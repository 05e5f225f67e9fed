package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, GenericInternalRow}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{Decimal, DecimalType, DoubleType, StructField, StructType}

import graft.functions.expressions.HashExpressions

/** [EXT] Graph centrality over edge tables — the operator family a
  * pipeline needs once corpus structure (token co-occurrence, link
  * graphs, citation webs) becomes a ranking signal. Companion to the
  * connected-components operator ([[Dedup.clusters]]): that one answers
  * "which nodes belong together", this one "which nodes matter".
  *
  * Determinism contract (the repo's cross-engine discipline): per-edge
  * contributions are single IEEE multiplies (exactly rounded), and the
  * per-node SUM goes through DECIMAL(28,12) — decimal addition is
  * associative, so the result is independent of partitioning and row
  * order, and a SQL engine replays it bit-for-bit. A raw double SUM
  * here would differ run-to-run at 32 partitions, let alone across
  * engines (the `xsum` gotcha).
  */
object Graph {

  /** Weighted PageRank, `iterations` fixed rounds (no convergence test —
    * a FIXED plan both engines can replay; 5 rounds is within 1e-3 of
    * the fixpoint on small-diameter graphs like token co-occurrence).
    *
    * pr₀(v) = 1/N;
    * prₜ₊₁(v) = (1−d)/N + d · Σ_{(u,v)∈E} prₜ(u) · w(u,v)/outW(u)
    *
    * Simplified (non-stochastic) form: dangling mass is NOT
    * redistributed — a node with no out-edges absorbs rank. Standard
    * for ranking use (relative order is what matters), documented
    * rather than hidden, and what keeps the oracle replay linear.
    *
    * 100 TB shape (r18): the edge table with per-edge SHARES (w/outW,
    * one src-partitioned window pass — no outW self-join) is eagerly
    * cut ONCE ([[Checkpointing.cut]]: executor-local, or durable where
    * the deployment sets a checkpoint dir — see [[Checkpointing]] for
    * the restart contract) ALREADY hash-partitioned and sorted on src, so
    * every iteration's contribution join reuses that partitioning
    * instead of re-shuffling the edge table per round. Iteration state
    * is the SPARSE in-sum table only (nodes with in-edges): pr(u) is a
    * closed form of in_sum(u) — base + d·coalesce(in_sum, 0) — so the
    * per-round dense node join, the per-round N re-aggregation and the
    * cross join all collapse into the edge-side left join; the dense
    * node table is assembled exactly once, at output. Each iteration is
    * one shuffle keyed on the high-cardinality dst node; N rides a
    * broadcast single-row cross join (the B12/corpus-N pattern), never
    * a driver collect.
    *
    * That shape is for an edge table Spark would not broadcast. Below
    * the bound ([[Checkpointing.toDriverIfSmall]] on the projected edge
    * list) the rounds run on the driver from one collect, replaying the
    * distributed arithmetic step for step ([[pageRankOnDriver]]), and
    * the result is a local relation with the same rows.
    *
    * Output: (node, pr, out_w) with pr rounded to 6dp. */
  def pageRank(
      edges: DataFrame,
      src: Column,
      dst: Column,
      weight: Column,
      iterations: Int = 5,
      damping: Double = 0.85): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(damping > 0 && damping < 1, s"damping must be in (0,1), got $damping")
    val e0 = edges.select(src.as("src"), dst.as("dst"), weight.cast("double").as("w"))
    val Array(srcField, dstField, _) = e0.schema.fields
    val nodeType = srcField.dataType
    val small =
      if (nodeType == dstField.dataType && Checkpointing.driverKeyable(nodeType))
        Checkpointing.toDriverIfSmall(e0)
      else None
    small.flatMap(rows => pageRankOnDriver(e0.sparkSession, rows,
        StructField("node", nodeType, srcField.nullable || dstField.nullable),
        iterations, damping))
      .getOrElse(distributedPageRank(e0, iterations, damping))
  }

  /** [[pageRank]] over the collected (src, dst, w) rows, or `None` when a
    * value leaves the range the replay reproduces exactly: a NaN or
    * infinite weight, a zero out-weight, or a contribution too large
    * for DECIMAL(28,12) — the distributed path then gives Spark's own
    * answer or error. Each step is the distributed expression's:
    *  - out_w: each weight cast to DECIMAL(28,6), an exact decimal sum,
    *    then `Decimal.toDouble`; share = w / out_w, one IEEE divide;
    *  - per round, each edge's contribution (1/N · share in round 1,
    *    (base + d · in_sum(src)) · share after it) cast to
    *    DECIMAL(28,12) by Spark's `Cast` (HALF_UP), summed exactly per
    *    dst, and read back with `Decimal.toDouble`; a null share adds
    *    nothing, as `sum` skips nulls;
    *  - pr = base + d · in_sum, rounded as Spark's `round(_, 6)`.
    * Null keys follow the joins: an edge with a null src is dropped, a
    * null dst is a node that no in-sum ever joins. */
  private def pageRankOnDriver(
      spark: org.apache.spark.sql.SparkSession,
      rows: Array[InternalRow],
      nodeField: StructField,
      iterations: Int,
      damping: Double): Option[DataFrame] = {
    val nt = nodeField.dataType
    val es = rows.filterNot(_.isNullAt(0))
    val srcs = es.map(r => r.get(0, nt))
    val dsts = es.map(r => if (r.isNullAt(1)) null else r.get(1, nt))
    val ws = es.map(r => if (r.isNullAt(2)) None else Some(r.getDouble(2)))
    // |x| < 1e15 keeps every cast clear of DECIMAL(28,12)'s 1e16 bound
    def replayable(x: Double): Boolean = math.abs(x) < 1e15
    if (!ws.flatten.forall(replayable)) return None
    def toDecimal(scale: Int): Double => java.math.BigDecimal = {
      val cast = Cast(BoundReference(0, DoubleType, nullable = false),
        DecimalType(28, scale))
      val row = new GenericInternalRow(1)
      x => { row.update(0, x); cast.eval(row).asInstanceOf[Decimal].toJavaBigDecimal }
    }
    val toDec6 = toDecimal(6)
    val toDec12 = toDecimal(12)
    // per non-null key: the exact decimal sum as a double, None when
    // every term is null (a null key is never joined, so never summed)
    def sumTo(keys: Array[Any], xs: Array[Option[java.math.BigDecimal]])
        : Map[Any, Option[Double]] =
      keys.indices.filter(keys(_) != null).groupBy(keys(_)).map { case (k, is) =>
        val present = is.flatMap(xs(_))
        k -> (if (present.isEmpty) None
          else Some(Decimal(present.reduce(_ add _)).toDouble))
      }
    val outW = sumTo(srcs, ws.map(_.map(toDec6)))
    val shares = es.indices.map { i =>
      for (w <- ws(i); o <- outW(srcs(i))) yield (w, o)
    }
    if (shares.exists(_.exists(_._2 == 0.0))) return None
    val share = shares.map(_.map { case (w, o) => w / o }).toArray
    val nodes = (srcs ++ dsts).distinct
    val n = nodes.length.toDouble
    val base = (1.0 - damping) / n
    def round(prior: Int => Double): Option[Map[Any, Option[Double]]] = {
      val cs = share.indices.map(i => share(i).map(_ * prior(i)))
      if (!cs.flatten.forall(replayable)) None
      else Some(sumTo(dsts, cs.map(_.map(toDec12)).toArray))
    }
    var inSum = round(_ => 1.0 / n)
    (2 to iterations).foreach { _ =>
      inSum = inSum.flatMap { prev =>
        round(i => base + damping * prev.get(srcs(i)).flatten.getOrElse(0.0))
      }
    }
    inSum.map { last =>
      val toNode = CatalystTypeConverters.createToScalaConverter(nt)
      val out = nodes.map { v =>
        val in = if (v == null) None else last.get(v).flatten
        Row(toNode(v), HashExpressions.round6(base + damping * in.getOrElse(0.0)),
          (if (v == null) None else outW.get(v).flatten).getOrElse(0.0))
      }
      Relational.localFrame(spark, StructType(Seq(nodeField,
        StructField("pr", DoubleType),
        StructField("out_w", DoubleType, nullable = false))), out.toSeq)
    }
  }

  /** [[pageRank]]'s distributed path over the projected edge list. */
  private def distributedPageRank(
      e0: DataFrame, iterations: Int, damping: Double): DataFrame = {
    // out-weight via a window over the src partition: ONE scan + one
    // shuffle (the groupBy+self-join spelling scanned the upstream
    // twice), and the cut RDD keeps hashpartitioning(src) + src order,
    // so per-iteration joins add no edge-side exchange. The isNotNull
    // filter preserves the old inner-join-on-src semantics (null-src
    // edges never reached shares).
    val shares = e0.filter(col("src").isNotNull)
      .withColumn("out_w",
        sum(col("w").cast("decimal(28,6)")).over(Window.partitionBy("src"))
          .cast("double"))
      .select(col("src"), col("dst"),
        (col("w") / col("out_w")).as("share"), col("out_w"))
    val sharesCut = Checkpointing.cut(shares) // the one edge-sized build action
    val nodes = Checkpointing.cut(
      sharesCut.select(col("src").as("node"))
        .union(sharesCut.select(col("dst").as("node")))
        .distinct())
    val nCut = Checkpointing.cut(nodes.groupBy().agg(count(lit(1)).as("n_nodes")))
    val base = lit(1.0 - damping) / col("n_nodes").cast("double")
    // sparse iteration state: in_sum(v) for nodes WITH in-edges only;
    // pr(u) = base + d·coalesce(in_sum(u), 0) is inlined into the next
    // round's per-edge product (bit-identical arithmetic), so no round
    // touches the dense node table
    var contrib = sharesCut.crossJoin(broadcast(nCut))
      .groupBy(col("dst").as("node"))
      .agg(sum(((lit(1.0) / col("n_nodes").cast("double")) * col("share"))
        .cast("decimal(28,12)")).as("in_sum"))
    (2 to iterations).foreach { _ =>
      contrib = sharesCut
        .join(contrib.select(col("node").as("src"), col("in_sum")),
          Seq("src"), "left")
        .crossJoin(broadcast(nCut))
        .groupBy(col("dst").as("node"))
        .agg(sum(((base +
          lit(damping) * coalesce(col("in_sum").cast("double"), lit(0.0))) *
          col("share")).cast("decimal(28,12)")).as("in_sum"))
    }
    val pr = nodes.crossJoin(broadcast(nCut))
      .join(contrib, Seq("node"), "left")
      .select(col("node"),
        (base + lit(damping) * coalesce(col("in_sum").cast("double"), lit(0.0)))
          .as("pr"))
    pr.join(
        sharesCut.select(col("src").as("node"), col("out_w")).dropDuplicates("node"),
        Seq("node"), "left")
      .select(col("node"), round(col("pr"), 6).as("pr"),
        coalesce(col("out_w"), lit(0.0)).as("out_w"))
  }

  /** Personalized PageRank (topic-sensitive PageRank, Haveliwala '02):
    * [[pageRank]] with the uniform teleport replaced by the SEED
    * distribution s(v) = 1/|S| on seed nodes, 0 elsewhere —
    * pprₜ₊₁(v) = (1−d)·s(v) + d·Σ pprₜ(u)·share(u,v), ppr₀ = s.
    * Relevance mass radiates from the seeds through the link structure:
    * the data-selection primitive for "find corpus regions near this
    * trusted set" (seed-expanded curation), where global PageRank only
    * says "important", not "important TO these".
    *
    * Same fixed-round, decimal-accumulated, oracle-unrollable contract
    * and the same one-checkpoint/one-shuffle-per-round shape as
    * [[pageRank]]; the seed set rides a broadcast membership join onto
    * the node table (seeds are small by definition). Seeds not present
    * in the graph are ignored; an empty effective seed set yields
    * all-zero ranks (guarded divide), not a failure. Dangling mass is
    * absorbed, as in [[pageRank]].
    *
    * Output: (node, ppr, is_seed), ppr rounded to 6dp. */
  def personalizedPageRank(
      edges: DataFrame,
      src: Column,
      dst: Column,
      weight: Column,
      seeds: DataFrame, // one column: node
      iterations: Int = 5,
      damping: Double = 0.85): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(damping > 0 && damping < 1, s"damping must be in (0,1), got $damping")
    val e0 = edges.select(src.as("src"), dst.as("dst"), weight.cast("double").as("w"))
    // same r18 shape as [[pageRank]]: window out-weight (one scan), edge
    // table cut partitioned+sorted on src, sparse in-sum iteration state
    val sharesCut = Checkpointing.cut(
      e0.filter(col("src").isNotNull)
        .withColumn("out_w",
          sum(col("w").cast("decimal(28,6)")).over(Window.partitionBy("src"))
            .cast("double"))
        .select(col("src"), col("dst"), (col("w") / col("out_w")).as("share")))
    val seedSet = seeds.select(col("node")).distinct()
    val nodes = Checkpointing.cut(
      sharesCut.select(col("src").as("node"))
        .union(sharesCut.select(col("dst").as("node")))
        .distinct()
        .join(broadcast(seedSet.withColumn("flag", lit(1L))), Seq("node"), "left")
        .select(col("node"), coalesce(col("flag"), lit(0L)).as("flag")))
    val nSeedsCut = Checkpointing.cut(nodes.groupBy().agg(sum(col("flag")).as("n_seeds")))
    // s(v): flag/|S| — one exact IEEE divide; 0 everywhere on an empty
    // effective seed set
    val teleport = when(col("n_seeds") > 0,
      col("flag").cast("double") / col("n_seeds").cast("double"))
      .otherwise(lit(0.0))
    // bake the SRC's teleport onto each edge (it is fixed across
    // rounds), so an iteration touches only (shares ⟕ in_sum) — the
    // dense per-round node join and its teleport recompute disappear.
    // Left LAZY deliberately: the join streams the already-partitioned
    // shares RDD against the node-sized tele table, which is cheaper
    // per round than a second edge-sized checkpoint write up front.
    val sharesTele = sharesCut.join(
      nodes.crossJoin(broadcast(nSeedsCut))
        .select(col("node").as("src"), teleport.as("tele")),
      Seq("src"))
    // ppr₀(u) = s(u) = tele; ppr_t(u) = (1−d)·tele + d·coalesce(in_sum, 0)
    // inlined into the next round's per-edge product — bit-identical to
    // materializing the dense ppr table per round
    var contrib = sharesTele
      .groupBy(col("dst").as("node"))
      .agg(sum((col("tele") * col("share")).cast("decimal(28,12)")).as("in_sum"))
    (2 to iterations).foreach { _ =>
      contrib = sharesTele
        .join(contrib.select(col("node").as("src"), col("in_sum")),
          Seq("src"), "left")
        .groupBy(col("dst").as("node"))
        .agg(sum(((lit(1.0 - damping) * col("tele") +
          lit(damping) * coalesce(col("in_sum").cast("double"), lit(0.0))) *
          col("share")).cast("decimal(28,12)")).as("in_sum"))
    }
    val pr = nodes.crossJoin(broadcast(nSeedsCut))
      .join(contrib, Seq("node"), "left")
      .select(col("node"), col("flag"),
        (lit(1.0 - damping) * teleport +
          lit(damping) * coalesce(col("in_sum").cast("double"), lit(0.0)))
          .as("ppr"))
    pr.select(col("node"), round(col("ppr"), 6).as("ppr"),
      (col("flag") === 1L).as("is_seed"))
  }

  /** Synchronous label-propagation community detection (Raghavan et al.
    * 2007), `iterations` fixed rounds: every node starts labeled with
    * itself; each round it adopts the label carrying the highest total
    * edge weight among its neighbors (ties → LEXICOGRAPHICALLY SMALLEST
    * label — a total order, so the whole run is deterministic), keeping
    * its previous label only when it has no neighbors. Edges are
    * treated as undirected (each input edge votes in both directions).
    *
    * Unlike [[Dedup.clusters]] (exact connected components — "is there
    * ANY path"), LPA finds densely-connected communities inside one
    * component — the structure that matters when a near-dup graph is
    * one giant hairball but quality labels should only spread through
    * STRONG ties.
    *
    * Float-free by construction: weights sum as longs, the argmax is
    * `min(struct(-Σw, label))` — so cross-engine parity needs no
    * quantization discipline at all, and synchronous fixed-round
    * updates make the SQL replay a linear unroll.
    *
    * 100 TB shape: the doubled edge list is checkpoint-cut once
    * ([[Checkpointing.cut]], as in [[pageRank]]); each
    * round is one shuffle keyed on (node, label) for the vote sum and
    * one on node for the argmax — both high-cardinality. Per-round
    * state is the labels table itself, one row per node. */
  def labelPropagation(
      edges: DataFrame,
      src: Column,
      dst: Column,
      weight: Column,
      iterations: Int = 3): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val e0 = edges.select(src.as("src"), dst.as("dst"), weight.cast("long").as("w"))
    // r18: double the edges in ONE pass (explode) instead of a self-union
    // that scans the (expensive) upstream twice, then land the aggregate
    // repartitioned+sorted on src so each round's vote join adds no
    // edge-side exchange (the cut RDD keeps the partitioning)
    val und = Checkpointing.cut( // one build-time action, same class as pageRank
      e0.select(explode(array(
          struct(col("src"), col("dst"), col("w")),
          struct(col("dst").as("src"), col("src").as("dst"), col("w")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"), col("e.w").as("w"))
        .groupBy("src", "dst").agg(sum("w").as("w"))
        .repartition(col("src"))
        .sortWithinPartitions("src"))
    val nodes = Checkpointing.cut(und.select(col("src").as("node")).distinct())
    // vote-less nodes (no in-edge with a non-null src — only possible via
    // null endpoints) keep their initial self-label forever: a STATIC
    // set, computed once, unioned back per round so labels_t references
    // labels_{t−1} exactly once (the old keep-previous left join doubled
    // the lineage per round — 2^iterations plan growth)
    val voteless = Checkpointing.cut(
      nodes.join(
        und.filter(col("src").isNotNull).select(col("dst").as("node")).distinct(),
        Seq("node"), "left_anti"))
    var labels = nodes.withColumn("label", col("node"))
    (1 to iterations).foreach { _ =>
      val votes = und
        .join(labels.select(col("node").as("src"), col("label")), Seq("src"))
        .groupBy(col("dst").as("node"), col("label"))
        .agg(sum("w").as("tw"))
      val winner = votes
        .groupBy("node")
        .agg(min(struct((lit(0L) - col("tw")).as("neg_w"), col("label").as("l")))
          .as("best"))
        .select(col("node"), col("best.l").as("label"))
      // every node with a non-null-src in-edge gets ≥1 vote each round
      // (the edge list is doubled), so winner ∪ voteless IS the full
      // label table — bit-identical to the old coalesce-keep join (a
      // null node never matched the join key and kept its null label;
      // winner's null-node row is filtered to preserve exactly that)
      labels = winner.filter(col("node").isNotNull)
        .unionByName(voteless.withColumn("label", col("node")))
    }
    labels.select(col("node"), col("label").as("community"))
  }

  /** k-core peeling, `rounds` fixed rounds: repeatedly drop every node
    * whose residual degree is < k, with the dropped nodes' edges.
    * Survivors approximate the k-core from above — after R rounds the
    * node set is exact for every graph whose peeling terminates within
    * R rounds, and an over-approximation otherwise (same FIXED-plan
    * contract as [[pageRank]]'s 5 rounds: both engines replay the
    * identical bounded recursion; no convergence test, no data-driven
    * plan). The corpus-curation use: the dense co-occurrence core is
    * the "establishment vocabulary", the peeled shell is rare/templated
    * periphery.
    *
    * 100 TB shape: each round is one degree aggregation (map-side
    * partial count on the edge list) plus two semi-joins keyed on the
    * node id — no wedge products, nothing quadratic; each round's
    * survivor edge list is cut via [[Checkpointing.cut]] (the [[pageRank]]
    * lineage discipline — without it round R re-derives rounds 1..R−1
    * per reference). Work per round is bounded by the CURRENT edge
    * count, which only shrinks.
    *
    * Output: (node, degree) — residual degree within the surviving
    * subgraph after `rounds` peels; peeled nodes are absent. */
  def kCore(
      edges: DataFrame,
      a: Column,
      b: Column,
      k: Int,
      rounds: Int = 5): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    var e = Checkpointing.cut(simpleEdges(edges, a, b))
    (1 to rounds).foreach { _ =>
      // r18 note: cutting the survivor set (it feeds both semi-joins)
      // was measured and REJECTED — wash at sf0.1 (0.99/1.03) and
      // regressed at 104× (1.05/1.54, bench/r18_graph_paired_104x.json):
      // the two differently-aliased references share one exchange via
      // ReuseExchange already, so the per-round eager cut was pure
      // added write cost.
      val keep = degrees(e).filter(col("degree") >= k)
        .select(col("node"))
      e = Checkpointing.cut(
        e.join(keep.select(col("node").as("u")), Seq("u"), "left_semi")
          .join(keep.select(col("node").as("v")), Seq("v"), "left_semi")
          .select("u", "v"))
    }
    degrees(e)
  }

  /** The undirected simple graph of `edges`: self-loops dropped, each
    * pair once as (u, v) with u < v. */
  private def simpleEdges(edges: DataFrame, a: Column, b: Column): DataFrame =
    edges.select(a.as("a"), b.as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .distinct()

  /** (node, degree) over a (u, v) simple edge list. */
  private def degrees(e: DataFrame): DataFrame =
    e.select(col("u").as("node")).union(e.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))

  /** Multi-source BFS hop distance, `maxHops` fixed expansion rounds:
    * every node reachable from the seed set within `maxHops` undirected
    * hops is labeled with its EXACT minimum hop count; nodes farther
    * away (or disconnected) are absent from the output — the bounded-
    * radius companion to [[personalizedPageRank]] (that one scores
    * "how much seed mass flows here", this one answers the set
    * question "is it within k links at all"), and the neighborhood-
    * expansion primitive of seed-based curation: grow a trusted corpus
    * region by exactly k co-occurrence links, no farther.
    *
    * Same FIXED-plan contract as [[pageRank]]/[[kCore]]: both engines
    * replay an identical bounded recursion (no convergence test), so
    * the oracle is a linear unroll. Within the radius the answer is
    * exact, not approximate: a node first reached in round r has true
    * distance r (BFS invariant), and synchronous rounds + the
    * already-labeled anti-join make that deterministic regardless of
    * partitioning. Seeds absent from the edge list are ignored
    * (distance is a property of the graph, not the seed request).
    *
    * 100 TB shape: the doubled edge list is checkpoint-cut once (the
    * [[pageRank]] lineage discipline); each round is one semi-join of
    * the edges against the CURRENT frontier (shrinking working set,
    * never the full labeled set), one distinct, and one anti-join
    * against the labeled table — all keyed on the node id, nothing
    * quadratic. Per-round state is (node, hops) rows only; the
    * frontier and the labeled accumulator are cut per round so round r
    * never re-derives rounds 1..r−1 (the r8 plan-duplication lesson).
    *
    * Output: (node, hops) — hops ∈ [0, maxHops], exact integers;
    * unreached nodes absent by contract. */
  def bfsHops(
      edges: DataFrame,
      a: Column,
      b: Column,
      seeds: DataFrame, // one column: node
      maxHops: Int = 4): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    val half = edges.select(a.as("src"), b.as("dst"))
      .filter(col("src") =!= col("dst"))
    // r18: single-pass doubling (explode, not a self-union that scans the
    // upstream twice), cut repartitioned+sorted on src so each round's
    // frontier semi-join adds no edge-side exchange
    val und = Checkpointing.cut(
      half.select(explode(array(
          struct(col("src"), col("dst")),
          struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
        .distinct()
        .repartition(col("src"))
        .sortWithinPartitions("src"))
    // per round only the NEW frontier is materialized; the labeled set is
    // a lazy union over the already-cut frontier RDDs (the old shape
    // re-materialized the whole accumulated set every round)
    var frontier = Checkpointing.cut(
      und.select(col("src").as("node")).distinct()
        .join(seeds.select(col("node")).distinct(), Seq("node"), "left_semi")
        .withColumn("hops", lit(0L)))
    var fronts = List(frontier)
    (1 to maxHops).foreach { h =>
      val seen = fronts.map(_.select("node")).reduce(_ union _)
      frontier = Checkpointing.cut(
        und.join(frontier.select(col("node").as("src")), Seq("src"), "left_semi")
          .select(col("dst").as("node")).distinct()
          .join(seen, Seq("node"), "left_anti")
          .withColumn("hops", lit(h.toLong)))
      fronts = fronts :+ frontier
    }
    fronts.reduce(_ unionByName _)
  }

  /** Per-node triangle count + local clustering coefficient over an
    * undirected simple graph (self-loops dropped, parallel edges
    * collapsed). lcc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)), the fraction
    * of a node's neighbor pairs that are themselves connected — the
    * corpus-structure signal that separates hub tokens (low lcc) from
    * cliquish template vocabulary (lcc → 1).
    *
    * 100 TB shape — degree-ordered edge orientation (the standard
    * arboricity trick): each undirected edge {u,v} is directed from
    * its (deg, id)-smaller endpoint, so every node's OUT-degree is
    * O(√m) regardless of its true degree. Wedges are then a self-join
    * of the oriented list on its source (Σ outdeg² work, minimized by
    * exactly this orientation — a hub token like "the" can be a wedge
    * ENDPOINT but never a wedge CENTER), and a triangle is a wedge
    * whose far endpoints are themselves an oriented edge (left-semi
    * pair join; each triangle found exactly once). No cap is needed:
    * orientation IS the skew guard. The oriented list (m rows of two
    * ids + one long) is cut once via [[Checkpointing.cut]] and reused by all
    * three references — the pageRank discipline, without which the
    * doc-scan + explode + distinct prefix replays 3×.
    *
    * Determinism: counts are exact integers; the lcc divide is a
    * single correctly-rounded IEEE op on exact operands — bit-equal
    * cross-engine with no quantization discipline.
    *
    * Output: (node, degree, triangles, lcc), one row per node of the
    * simple graph; triangle-free nodes keep 0, deg-1 nodes lcc 0.0. */
  def triangles(
      edges: DataFrame,
      a: Column,
      b: Column): DataFrame = {
    // r18: the simple-graph edge list and the degree table are each cut
    // once — the old lazy spelling replayed the upstream scan 4× (deg
    // twice inside the orientation build, e once, deg again at output)
    val e = Checkpointing.cut(simpleEdges(edges, a, b))
    val deg = Checkpointing.cut(degrees(e))
    // orient from the (deg, id)-smaller endpoint; carry the head's
    // (deg, id) key so the wedge self-join can order far endpoints
    // without a third deg lookup. Cut repartitioned+sorted on src: the
    // wedge self-join then runs exchange-free on both sides.
    val oriented = Checkpointing.cut(
      e.join(deg.select(col("node").as("u"), col("degree").as("du")), Seq("u"))
        .join(deg.select(col("node").as("v"), col("degree").as("dv")), Seq("v"))
        .select(
          when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
            struct(col("u").as("src"), struct(col("dv").as("d"), col("v").as("n")).as("dst")))
            .otherwise(
              struct(col("v").as("src"), struct(col("du").as("d"), col("u").as("n")).as("dst")))
            .as("o"))
        .select(col("o.src").as("src"), col("o.dst").as("dst"))
        .repartition(col("src"))
        .sortWithinPartitions("src"))
    val w1 = oriented.select(col("src"), col("dst").as("b"))
    val w2 = oriented.select(col("src"), col("dst").as("c"))
    val wedges = w1.join(w2, Seq("src")).filter(col("b") < col("c"))
      .select(col("src").as("x"), col("b.n").as("y"), col("c"))
    // closing edge must be oriented y→c: y precedes c in the SAME
    // (deg, id) total order the orientation used
    val tri = wedges.join(
      oriented.select(col("src").as("y"), col("dst").as("c")),
      Seq("y", "c"), "left_semi")
      .select(col("x"), col("y"), col("c.n").as("z"))
    val triPerNode = tri
      .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
    deg.join(triPerNode, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        when(col("degree") >= 2,
          lit(2.0) * coalesce(col("triangles"), lit(0L)) /
            (col("degree") * (col("degree") - 1)))
          .otherwise(lit(0.0)).as("lcc"))
  }

  /** Common-neighbor LINK PREDICTION (Liben-Nowell & Kleinberg '03):
    * for non-adjacent node pairs, how strongly the graph "wants" the
    * edge — common-neighbor count, Jaccard over neighborhoods, and
    * Adamic–Adar (common neighbors weighted 1/ln(degree): a shared
    * rare neighbor is evidence, a shared hub is not). On the token
    * co-occurrence graph this surfaces near-synonym/related-term
    * pairs that never co-occur directly; on an entity graph,
    * candidate record links.
    *
    * The `degCap` prune is load-bearing twice: a hub as wedge CENTER
    * generates deg² candidate pairs (the quadratic blowup), and its
    * 1/ln(deg) weight is the signal floor anyway — dropping
    * deg > degCap centers is the [[TfIdf.allPairsCosine]] dfCap
    * argument re-applied to graphs. Hubs still appear as ENDPOINTS;
    * only their wedge-center role is pruned, and their full degree
    * still drives their own Jaccard denominator.
    *
    * Determinism: degrees and common counts exact; each Adamic–Adar
    * term 1/ln(deg) is quantized round(·,9) → DECIMAL(18,9) before
    * the pair sum (the [[Events.freshnessDecay]] transcendental
    * discipline), one divide for Jaccard, 6dp outputs. A wedge center
    * has degree ≥ 2, so ln(deg) ≥ ln 2 — no zero divisor exists.
    *
    * 100 TB shape: one undirected-edge distinct, a degree aggregate,
    * the capped wedge self-join keyed on the CENTER (fan-out ≤
    * degCap² per center), one (pair)-keyed aggregate, and two
    * degree joins AQE broadcasts when the vocabulary is small (the
    * node table is NOT bounded in general — no forced hint); existing
    * edges leave via one anti-join.
    *
    * Output: (node_a, node_b, common, jaccard 6dp, adamic_adar 6dp)
    * for non-adjacent pairs with common ≥ minCommon, node_a < node_b,
    * ordered (node_a, node_b). */
  def linkPrediction(
      edges: DataFrame,
      src: Column,
      dst: Column,
      minCommon: Long = 2L,
      degCap: Long = 64L): DataFrame = {
    require(minCommon >= 1, s"minCommon must be >= 1, got $minCommon")
    require(degCap >= 2, s"degCap must be >= 2, got $degCap")
    // r18: cut the three shared subtrees once — the fully lazy spelling
    // replayed the upstream edge derivation per reference (52 parquet
    // scans in one sf0.1 plan); und/deg/centers are each ids+counts only
    val und = Checkpointing.cut(edges
      .select(src.cast("string").as("a"), dst.cast("string").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .distinct())
    val adj = und.select(col("u").as("z"), col("v").as("n"))
      .unionByName(und.select(col("v").as("z"), col("u").as("n")))
    val deg = Checkpointing.cut(adj.groupBy("z").agg(count(lit(1)).as("deg")))
    // cut repartitioned+sorted on the wedge center so the capped
    // self-join runs exchange-free on both sides. deg ≥ 2 is explicit
    // now that aa_term is materialized into the cut: a deg-1 center can
    // never form an x < y pair (value-identical), but its ln(1) = 0
    // divisor — previously never evaluated because the projection was
    // deferred past the pair filter — would trip ANSI divide-by-zero
    val centers = Checkpointing.cut(
      adj.join(deg.filter(col("deg") <= degCap && col("deg") >= 2), Seq("z"))
        .withColumn("aa_term",
          round(lit(1.0) / log(col("deg").cast("double")), 9)
            .cast("decimal(18,9)"))
        .repartition(col("z"))
        .sortWithinPartitions("z"))
    val n1 = centers.select(col("z"), col("n").as("x"), col("aa_term"))
    val n2 = centers.select(col("z"), col("n").as("y"))
    val pairs = n1.join(n2, Seq("z"))
      .filter(col("x") < col("y"))
      .groupBy(col("x"), col("y"))
      .agg(count(lit(1)).as("common"), sum("aa_term").as("aa"))
      .filter(col("common") >= minCommon)
      .join(und.select(col("u").as("x"), col("v").as("y")),
        Seq("x", "y"), "left_anti") // predict only ABSENT edges
    pairs
      .join(deg.select(col("z").as("x"), col("deg").as("deg_x")), Seq("x"))
      .join(deg.select(col("z").as("y"), col("deg").as("deg_y")), Seq("y"))
      .select(col("x").as("node_a"), col("y").as("node_b"), col("common"),
        round(col("common").cast("double") /
          (col("deg_x") + col("deg_y") - col("common")).cast("double"), 6)
          .as("jaccard"),
        round(col("aa").cast("double"), 6).as("adamic_adar"))
      .orderBy("node_a", "node_b")
  }

  /** HITS hubs-and-authorities (Kleinberg '99) — the second classical
    * link-analysis readout next to [[pageRank]]: PageRank scores
    * IMPORTANCE (random-surfer mass), HITS separates two ROLES —
    * authorities (pointed to by good hubs) and hubs (pointing to good
    * authorities) — which is exactly the curation split between
    * "canonical reference docs" and "good index/survey docs" on a
    * citation or co-occurrence graph.
    *
    * Power iteration on the weighted adjacency: per round,
    * a ← normalize(Aᵀh), h ← normalize(A·a), L1 normalization (sum=1;
    * keeps everything in exact-divide land — the L2 variant differs
    * only by a global constant per round and would drag a sqrt into
    * the normalization chain for nothing). Fixed `iterations` rounds,
    * not convergence-tested: the same fixed-round oracle-unrollable
    * contract as [[pageRank]].
    *
    * Determinism: each matvec accumulates per-edge products quantized
    * to DECIMAL(28,12) (exact, order-free sums); the round's
    * normalizer is the exact decimal sum OF those sums; every score
    * is one IEEE divide of two exact decimals. A graph whose round
    * total is 0 (no edges) yields all-zero scores, guarded, not 0/0.
    *
    * 100 TB shape: the [[pageRank]] shape — edges checkpointed once,
    * ONE key-partitioned shuffle per matvec (dst-keyed then
    * src-keyed), the normalizer rides each matvec-cut's own action as
    * an observe() metric — one exact decimal scalar to the driver,
    * never node scores.
    *
    * Output: (node, hub 6dp, authority 6dp), ordered by authority
    * desc, hub desc, node. */
  def hits(
      edges: DataFrame,
      src: Column,
      dst: Column,
      weight: Column,
      iterations: Int = 3): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    // r18: TWO cut copies of the edge list, partitioned+sorted on the
    // key each matvec joins on (src for Aᵀh, dst for A·a), so no round
    // re-shuffles the edge table. Iteration state is the SPARSE raw
    // matvec sum: s(u) = when(tot>0, raw/tot, 0) is inlined into the
    // next matvec's per-edge product — same divide, same product, in
    // the same order, so bit-identical to normalizing a dense table
    // first; nodes absent from raw have s = 0 and contribute exactly
    // nothing either way. The dense node join happens ONCE, at output.
    val e0 = edges.select(src.as("src"), dst.as("dst"), weight.cast("double").as("w"))
    val eSrc = Checkpointing.cut(e0.repartition(col("src")).sortWithinPartitions("src"))
    val eDst = Checkpointing.cut(eSrc.repartition(col("dst")).sortWithinPartitions("dst"))
    val nodes = Checkpointing.cut(
      eSrc.select(col("src").as("node"))
        .union(eSrc.select(col("dst").as("node")))
        .distinct())
    val nCut = Checkpointing.cut(nodes.groupBy().agg(count(lit(1)).as("n_nodes")))
    // r18b: each matvec's normalizer is the exact decimal sum of the
    // table the cut just materialized — so it rides the cut's OWN
    // action as an observe() metric (the Dedup.clusters
    // checkpointWithSum pattern) and re-enters the next matvec as a
    // driver LITERAL. That deletes one broadcast-aggregate job per
    // matvec plus the two output-stage normalizer aggregates, and is
    // bit-identical: the observed value IS the decimal(38,12) sum the
    // old crossJoin(broadcast(agg)) computed, and lit(tot).doubleValue
    // is the same IEEE double as cast(tot as double).
    def cutWithSum(df: DataFrame): (DataFrame, java.math.BigDecimal) = {
      val obs = org.apache.spark.sql.Observation()
      val out = Checkpointing.cut(
        df.observe(obs, sum(col("raw")).as("rsum")))
      val d = obs.get("rsum").asInstanceOf[java.math.BigDecimal]
      (out, if (d == null) java.math.BigDecimal.ZERO else d)
    }
    // s of a SPARSE raw row given the round's driver-literal tot —
    // identical arithmetic to the old broadcast-tot expression for
    // matched rows (same divide, same operand order)
    def sExpr(tot: java.math.BigDecimal): Column =
      if (tot.signum > 0)
        coalesce(col("raw"), lit(0).cast("decimal(28,12)"))
          .cast("double") / lit(tot.doubleValue)
      else lit(0.0)
    var authRaw: DataFrame = null
    var hubRaw: DataFrame = null
    var authSum = java.math.BigDecimal.ZERO
    var hubSum = java.math.BigDecimal.ZERO
    (1 to iterations).foreach { i =>
      // each round's matvec feeds its normalizer, the next matvec and
      // the output — cut per matvec (the r8 plan-duplication lesson)
      val (a, as) = cutWithSum(
        (if (i == 1)
          // hub₀ = 1/N dense — fold the uniform score in directly
          eSrc.crossJoin(broadcast(nCut))
            .withColumn("hs", lit(1.0) / col("n_nodes").cast("double"))
        else
          eSrc.join(hubRaw.select(col("node").as("src"), col("raw")), Seq("src"))
            .withColumn("hs", sExpr(hubSum)))
          .groupBy(col("dst").as("node"))
          .agg(sum((col("hs") * col("w")).cast("decimal(28,12)")).as("raw")))
      authRaw = a; authSum = as
      val (h, hs) = cutWithSum(
        eDst.join(authRaw.select(col("node").as("dst"), col("raw")), Seq("dst"))
          .withColumn("as_", sExpr(authSum))
          .groupBy(col("src").as("node"))
          .agg(sum((col("as_") * col("w")).cast("decimal(28,12)")).as("raw")))
      hubRaw = h; hubSum = hs
    }
    def dense(raw: DataFrame, tot: java.math.BigDecimal): DataFrame =
      nodes.join(raw, Seq("node"), "left")
        .select(col("node"), sExpr(tot).as("s"))
    dense(hubRaw, hubSum).select(col("node"), round(col("s"), 6).as("hub"))
      .join(dense(authRaw, authSum)
        .select(col("node"), round(col("s"), 6).as("authority")),
        Seq("node"))
      .orderBy(col("authority").desc, col("hub").desc, col("node"))
  }
}
