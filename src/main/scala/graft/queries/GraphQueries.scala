package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.{Checkpointing, Graph, TextPipeline}
import graft.queries.OracleSql._
import graft.queries.Query._

/** Token-graph algorithms: PageRank, personalized PageRank, HITS, label
  * propagation, BFS, triangles, k-core and link prediction. */
object GraphQueries {

  /** The token graph of PageRank and personalized PageRank: directed
    * adjacent-token edges weighted by their count (`e`) and each source's
    * DECIMAL(28,6) out-weight (`ow`). */
  private val WeightedEdgesSql: String =
    s"""toks AS (SELECT string_split(text, ' ') AS t FROM documents),
      |${tokenPairs(1)},
      |e AS (
      |  SELECT p['a'] AS src, p['b'] AS dst, CAST(COUNT(*) AS DOUBLE) AS w
      |  FROM (SELECT unnest(ps) AS p FROM pl) GROUP BY 1, 2),
      |ow AS (
      |  SELECT src, CAST(SUM(CAST(w AS DECIMAL(28,6))) AS DOUBLE) AS out_w
      |  FROM e GROUP BY 1),""".stripMargin

  def all: Seq[Query] = Seq(
    // ── PageRank over the token co-occurrence graph: 5 fixed rounds of
    //    decimal-accumulated message passing on the adjacency edge list
    //    (Graph.pageRank scaladoc — per-edge shares checkpointed once,
    //    each round one dst-keyed shuffle; oracle unrolls the 5 rounds).
    Query("ext_pagerank", (s, dir) =>
      Graph.pageRank(
        TextPipeline.skipgramPairCounts(
          t(s, dir, "documents"), col("text"), window = 1),
        col("tok_a"), col("tok_b"), col("n_ab"))
        .orderBy(col("pr").desc, col("node")),
      // PageRank replay: same bigram edge extraction as the skip-gram
      // oracle (window 1), per-edge shares as exact IEEE divides, then
      // the 5 rounds UNROLLED — every per-node sum accumulates
      // DECIMAL(28,12)-quantized contributions (associative, so neither
      // engine's aggregation order matters), every scalar step a single
      // exactly-rounded double op. 0.15000000000000002 is literally
      // Scala's 1.0 - 0.85 — the engines must agree on the bits, not the
      // decimals.
      s"""WITH $WeightedEdgesSql
        |sh AS MATERIALIZED (
        |  SELECT e.src, e.dst, e.w / ow.out_w AS share, ow.out_w
        |  FROM e JOIN ow USING (src)),
        |nodes AS (SELECT DISTINCT node FROM (
        |  SELECT src AS node FROM sh UNION ALL SELECT dst FROM sh)),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM nodes),
        |p0 AS (SELECT node, 1.0 / CAST(n_nodes AS DOUBLE) AS pr
        |       FROM nodes CROSS JOIN nn),
        |c1 AS (SELECT sh.dst AS node,
        |         SUM(CAST(p0.pr * sh.share AS DECIMAL(28,12))) AS s
        |       FROM sh JOIN p0 ON p0.node = sh.src GROUP BY 1),
        |p1 AS (SELECT n.node, 0.15000000000000002 / CAST(nn.n_nodes AS DOUBLE)
        |         + 0.85 * COALESCE(CAST(c1.s AS DOUBLE), 0.0) AS pr
        |       FROM nodes n CROSS JOIN nn LEFT JOIN c1 ON c1.node = n.node),
        |c2 AS (SELECT sh.dst AS node,
        |         SUM(CAST(p1.pr * sh.share AS DECIMAL(28,12))) AS s
        |       FROM sh JOIN p1 ON p1.node = sh.src GROUP BY 1),
        |p2 AS (SELECT n.node, 0.15000000000000002 / CAST(nn.n_nodes AS DOUBLE)
        |         + 0.85 * COALESCE(CAST(c2.s AS DOUBLE), 0.0) AS pr
        |       FROM nodes n CROSS JOIN nn LEFT JOIN c2 ON c2.node = n.node),
        |c3 AS (SELECT sh.dst AS node,
        |         SUM(CAST(p2.pr * sh.share AS DECIMAL(28,12))) AS s
        |       FROM sh JOIN p2 ON p2.node = sh.src GROUP BY 1),
        |p3 AS (SELECT n.node, 0.15000000000000002 / CAST(nn.n_nodes AS DOUBLE)
        |         + 0.85 * COALESCE(CAST(c3.s AS DOUBLE), 0.0) AS pr
        |       FROM nodes n CROSS JOIN nn LEFT JOIN c3 ON c3.node = n.node),
        |c4 AS (SELECT sh.dst AS node,
        |         SUM(CAST(p3.pr * sh.share AS DECIMAL(28,12))) AS s
        |       FROM sh JOIN p3 ON p3.node = sh.src GROUP BY 1),
        |p4 AS (SELECT n.node, 0.15000000000000002 / CAST(nn.n_nodes AS DOUBLE)
        |         + 0.85 * COALESCE(CAST(c4.s AS DOUBLE), 0.0) AS pr
        |       FROM nodes n CROSS JOIN nn LEFT JOIN c4 ON c4.node = n.node),
        |c5 AS (SELECT sh.dst AS node,
        |         SUM(CAST(p4.pr * sh.share AS DECIMAL(28,12))) AS s
        |       FROM sh JOIN p4 ON p4.node = sh.src GROUP BY 1),
        |p5 AS (SELECT n.node, 0.15000000000000002 / CAST(nn.n_nodes AS DOUBLE)
        |         + 0.85 * COALESCE(CAST(c5.s AS DOUBLE), 0.0) AS pr
        |       FROM nodes n CROSS JOIN nn LEFT JOIN c5 ON c5.node = n.node)
        |SELECT p5.node, round(p5.pr, 6) AS pr, COALESCE(o.out_w, 0.0) AS out_w
        |FROM p5 LEFT JOIN (SELECT DISTINCT src AS node, out_w FROM sh) o
        |  USING (node)
        |ORDER BY pr DESC, node""".stripMargin),

    // ── HITS hubs/authorities on the same co-occurrence graph —
    //    [EXT r14]: the role-splitting companion to ext_pagerank
    //    (authorities = pointed to by good hubs, hubs = pointing to
    //    good authorities); fixed 3 rounds, L1-normalized,
    //    DECIMAL(28,12)-accumulated matvecs, oracle-unrolled
    //    (Graph.hits scaladoc).
    // ── Common-neighbor link prediction over the above-mean
    //    co-occurrence backbone — [EXT r14]: Jaccard + Adamic-Adar for
    //    ABSENT edges only; the mean threshold keeps graph density
    //    scale-invariant, and the degCap prunes hub wedge-centers
    //    (quadratic fan-out, near-zero AA weight)
    //    (Graph.linkPrediction scaladoc).
    Query("ext_link_prediction", (s, dir) => {
      // r18: cut the pair-count table once — the mean aggregate, the
      // backbone filter and the operator each replayed the doc scan
      val counts = Checkpointing.cut(TextPipeline.skipgramPairCounts(
        t(s, dir, "documents"), col("text"), window = 1))
      val mean = counts.agg(
        (sum(col("n_ab")).cast("double") /
          count(lit(1)).cast("double")).as("mean_n"))
      val backbone = counts.crossJoin(broadcast(mean))
        .filter(col("n_ab").cast("double") > col("mean_n"))
      Graph.linkPrediction(backbone, col("tok_a"), col("tok_b"),
        minCommon = 2L, degCap = 64L)
    },
      // Link-prediction replay: the pagerank edge CTE, the above-mean
      // backbone, capped wedge centers with 9dp-quantized 1/ln(deg)
      // terms, the anti-joined absent-pair readout.
      s"""WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
        |${tokenPairs(1)},
        |cells AS (
        |  SELECT p['a'] AS a, p['b'] AS b, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM (SELECT unnest(ps) AS p FROM pl) GROUP BY 1, 2),
        |m AS (SELECT CAST(SUM(n) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |        AS mean_n FROM cells),
        |und AS (
        |  SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
        |  FROM cells CROSS JOIN m
        |  WHERE CAST(n AS DOUBLE) > mean_n AND a IS NOT NULL
        |    AND b IS NOT NULL AND a <> b),
        |adj AS (SELECT u AS z, v AS nb FROM und
        |        UNION ALL SELECT v, u FROM und),
        |deg AS (SELECT z, CAST(COUNT(*) AS BIGINT) AS deg
        |        FROM adj GROUP BY 1),
        |centers AS (
        |  SELECT adj.z, adj.nb,
        |    CAST(round(1.0 / ln(CAST(deg AS DOUBLE)), 9) AS DECIMAL(18,9))
        |      AS aa_term
        |  FROM adj JOIN deg ON deg.z = adj.z
        |  WHERE deg <= 64),
        |pairs AS (
        |  SELECT n1.nb AS x, n2.nb AS y,
        |    CAST(COUNT(*) AS BIGINT) AS common,
        |    SUM(n1.aa_term) AS aa
        |  FROM centers n1 JOIN centers n2 ON n1.z = n2.z
        |  WHERE n1.nb < n2.nb
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |absent AS (
        |  SELECT p.* FROM pairs p
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM und WHERE und.u = p.x AND und.v = p.y))
        |SELECT x AS node_a, y AS node_b, common,
        |  round(CAST(common AS DOUBLE)
        |    / CAST(dx.deg + dy.deg - common AS DOUBLE), 6) AS jaccard,
        |  round(CAST(aa AS DOUBLE), 6) AS adamic_adar
        |FROM absent
        |JOIN deg dx ON dx.z = absent.x
        |JOIN deg dy ON dy.z = absent.y
        |ORDER BY node_a, node_b""".stripMargin),

    Query("ext_hits", (s, dir) =>
      Graph.hits(
        TextPipeline.skipgramPairCounts(
          t(s, dir, "documents"), col("text"), window = 1),
        col("tok_a"), col("tok_b"), col("n_ab")),
      // HITS replay: the ext_pagerank edge CTE, uniform h₀, then 3
      // unrolled rounds of a ← L1-normalize(Aᵀh), h ← L1-normalize(A·a),
      // each matvec an exact DECIMAL(28,12) product sum and each
      // normalizer the exact decimal fold of those sums (Graph.hits's
      // fixed-round contract).
      {
        val base =
          s"""WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
            |${tokenPairs(1)},
            |e AS MATERIALIZED (
            |  SELECT p['a'] AS src, p['b'] AS dst, CAST(COUNT(*) AS DOUBLE) AS w
            |  FROM (SELECT unnest(ps) AS p FROM pl) GROUP BY 1, 2),
            |nodes AS (SELECT DISTINCT node FROM (
            |  SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
            |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM nodes),
            |h0 AS (SELECT node, 1.0 / CAST(n_nodes AS DOUBLE) AS s
            |       FROM nodes CROSS JOIN nn)""".stripMargin
        val rounds = (1 to 3).map { r =>
          s""",
             |a${r}r AS (SELECT e.dst AS node,
             |    SUM(CAST(h${r - 1}.s * e.w AS DECIMAL(28,12))) AS raw
             |  FROM e JOIN h${r - 1} ON h${r - 1}.node = e.src GROUP BY 1),
             |a${r}t AS (SELECT SUM(raw) AS tot FROM a${r}r),
             |a$r AS (SELECT n.node, CASE WHEN tot > 0
             |    THEN CAST(COALESCE(raw, CAST(0 AS DECIMAL(28,12))) AS DOUBLE)
             |      / CAST(tot AS DOUBLE) ELSE 0.0 END AS s
             |  FROM nodes n CROSS JOIN a${r}t
             |  LEFT JOIN a${r}r ON a${r}r.node = n.node),
             |h${r}r AS (SELECT e.src AS node,
             |    SUM(CAST(a$r.s * e.w AS DECIMAL(28,12))) AS raw
             |  FROM e JOIN a$r ON a$r.node = e.dst GROUP BY 1),
             |h${r}t AS (SELECT SUM(raw) AS tot FROM h${r}r),
             |h$r AS (SELECT n.node, CASE WHEN tot > 0
             |    THEN CAST(COALESCE(raw, CAST(0 AS DECIMAL(28,12))) AS DOUBLE)
             |      / CAST(tot AS DOUBLE) ELSE 0.0 END AS s
             |  FROM nodes n CROSS JOIN h${r}t
             |  LEFT JOIN h${r}r ON h${r}r.node = n.node)""".stripMargin
        }.mkString
        base + rounds +
          """
            |SELECT h3.node, round(h3.s, 6) AS hub, round(a3.s, 6) AS authority
            |FROM h3 JOIN a3 USING (node)
            |ORDER BY authority DESC, hub DESC, node""".stripMargin
      }),

    // ── Personalized PageRank from the 's%'-token seed set: relevance
    //    radiates from seeds through co-occurrence links — the
    //    seed-expanded curation primitive; same fixed-round decimal
    //    contract as ext_pagerank (Graph.personalizedPageRank scaladoc).
    Query("ext_ppr", (s, dir) => {
      // r18: cut the pair-count table once — the seed derivation (two
      // references) and the operator's shares build each replayed the
      // full doc scan + skipgram aggregate otherwise
      val edges = Checkpointing.cut(TextPipeline.skipgramPairCounts(
        t(s, dir, "documents"), col("text"), window = 1))
      val seeds = edges.select(col("tok_a").as("node"))
        .unionByName(edges.select(col("tok_b").as("node")))
        .filter(col("node").startsWith("s"))
      Graph.personalizedPageRank(
        edges, col("tok_a"), col("tok_b"), col("n_ab"), seeds)
        .orderBy(col("ppr").desc, col("node"))
    },
      // PPR replay: the ext_pagerank CTE with the uniform teleport
      // replaced by the seed distribution (flag/|S|, LIKE 's%' mirroring
      // startsWith), 5 rounds unrolled mechanically.
      {
        val base =
          s"""WITH $WeightedEdgesSql
            |sh AS MATERIALIZED (
            |  SELECT e.src, e.dst, e.w / ow.out_w AS share
            |  FROM e JOIN ow USING (src)),
            |nf AS MATERIALIZED (
            |  SELECT node, CASE WHEN node LIKE 's%' THEN 1 ELSE 0 END AS flag
            |  FROM (SELECT DISTINCT node FROM (
            |    SELECT src AS node FROM sh UNION ALL SELECT dst FROM sh))),
            |ns AS (SELECT CAST(SUM(flag) AS BIGINT) AS n_seeds FROM nf),
            |p0 AS (SELECT node, flag,
            |         CASE WHEN n_seeds > 0
            |           THEN CAST(flag AS DOUBLE) / CAST(n_seeds AS DOUBLE)
            |           ELSE 0.0 END AS pr
            |       FROM nf CROSS JOIN ns)""".stripMargin
        val rounds = (1 to 5).map { r =>
          s""",
             |c$r AS (SELECT sh.dst AS node,
             |  SUM(CAST(p${r - 1}.pr * sh.share AS DECIMAL(28,12))) AS s
             |  FROM sh JOIN p${r - 1} ON p${r - 1}.node = sh.src GROUP BY 1),
             |p$r AS (SELECT nf.node, nf.flag,
             |  0.15000000000000002 * (CASE WHEN n_seeds > 0
             |    THEN CAST(nf.flag AS DOUBLE) / CAST(n_seeds AS DOUBLE)
             |    ELSE 0.0 END)
             |  + 0.85 * COALESCE(CAST(c$r.s AS DOUBLE), 0.0) AS pr
             |  FROM nf CROSS JOIN ns LEFT JOIN c$r ON c$r.node = nf.node)"""
            .stripMargin
        }.mkString
        base + rounds +
          """
            |SELECT node, round(pr, 6) AS ppr, flag = 1 AS is_seed
            |FROM p5 ORDER BY ppr DESC, node""".stripMargin
      }),

    // ── Label-propagation communities over the same token graph:
    //    integer-weighted majority voting, 3 synchronous rounds,
    //    lexicographic tie-break — float-free determinism
    //    (Graph.labelPropagation scaladoc).
    Query("ext_label_prop", (s, dir) =>
      Graph.labelPropagation(
        TextPipeline.skipgramPairCounts(
          t(s, dir, "documents"), col("text"), window = 1),
        col("tok_a"), col("tok_b"), col("n_ab"))
        .orderBy("node"),
      // LPA replay: bigram edges doubled into an undirected vote table,
      // 3 rounds unrolled; the argmax is ROW_NUMBER ordered (tw DESC,
      // label) = the engine's min(struct(-tw, label)) — all-integer, no
      // float discipline needed.
      s"""WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
        |${tokenPairs(1)},
        |e AS (
        |  SELECT p['a'] AS src, p['b'] AS dst, CAST(COUNT(*) AS BIGINT) AS w
        |  FROM (SELECT unnest(ps) AS p FROM pl) GROUP BY 1, 2),
        |u AS MATERIALIZED (
        |  SELECT src, dst, CAST(SUM(w) AS BIGINT) AS w FROM (
        |    SELECT src, dst, w FROM e
        |    UNION ALL SELECT dst AS src, src AS dst, w FROM e)
        |  GROUP BY 1, 2),
        |n0 AS (SELECT DISTINCT src AS node FROM u),
        |l0 AS (SELECT node, node AS label FROM n0),
        |v1 AS (SELECT u.dst AS node, l.label, CAST(SUM(u.w) AS BIGINT) AS tw
        |       FROM u JOIN l0 l ON l.node = u.src GROUP BY 1, 2),
        |a1 AS (SELECT node, label FROM (
        |         SELECT node, label,
        |           ROW_NUMBER() OVER (PARTITION BY node
        |                              ORDER BY tw DESC, label) AS rn
        |         FROM v1) WHERE rn = 1),
        |l1 AS (SELECT n.node, COALESCE(a.label, p.label) AS label
        |       FROM n0 n JOIN l0 p USING (node) LEFT JOIN a1 a USING (node)),
        |v2 AS (SELECT u.dst AS node, l.label, CAST(SUM(u.w) AS BIGINT) AS tw
        |       FROM u JOIN l1 l ON l.node = u.src GROUP BY 1, 2),
        |a2 AS (SELECT node, label FROM (
        |         SELECT node, label,
        |           ROW_NUMBER() OVER (PARTITION BY node
        |                              ORDER BY tw DESC, label) AS rn
        |         FROM v2) WHERE rn = 1),
        |l2 AS (SELECT n.node, COALESCE(a.label, p.label) AS label
        |       FROM n0 n JOIN l1 p USING (node) LEFT JOIN a2 a USING (node)),
        |v3 AS (SELECT u.dst AS node, l.label, CAST(SUM(u.w) AS BIGINT) AS tw
        |       FROM u JOIN l2 l ON l.node = u.src GROUP BY 1, 2),
        |a3 AS (SELECT node, label FROM (
        |         SELECT node, label,
        |           ROW_NUMBER() OVER (PARTITION BY node
        |                              ORDER BY tw DESC, label) AS rn
        |         FROM v3) WHERE rn = 1),
        |l3 AS (SELECT n.node, COALESCE(a.label, p.label) AS label
        |       FROM n0 n JOIN l2 p USING (node) LEFT JOIN a3 a USING (node))
        |SELECT node, label AS community FROM l3 ORDER BY node""".stripMargin),

    // ── Triangle count + local clustering coefficient over the same
    //    token graph: degree-ordered orientation bounds wedge fan-out
    //    by O(√m) — hubs are wedge endpoints, never centers — so no
    //    cap is needed; counts exact, one IEEE divide
    //    (Graph.triangles scaladoc).
    Query("ext_triangles", (s, dir) =>
      Graph.triangles(
        TextPipeline.skipgramPairCounts(
          t(s, dir, "documents"), col("text"), window = 1),
        col("tok_a"), col("tok_b"))
        .orderBy("node"),
      // Triangle replay: same bigram edges, canonicalized + dedup'd into
      // an undirected simple graph; orientation CASE mirrors the engine's
      // struct(deg, id) comparison; the EXISTS closing-edge probe is the
      // left-semi pair join. All-integer until the single lcc divide.
      s"""WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
        |${tokenPairs(1)},
        |raw AS (SELECT p['a'] AS a, p['b'] AS b
        |        FROM (SELECT unnest(ps) AS p FROM pl)),
        |e AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
        |      FROM raw WHERE a <> b),
        |deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
        |  SELECT u AS node FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
        |o AS MATERIALIZED (
        |  SELECT CASE WHEN du.degree < dv.degree
        |           OR (du.degree = dv.degree AND e.u < e.v)
        |         THEN e.u ELSE e.v END AS src,
        |         CASE WHEN du.degree < dv.degree
        |           OR (du.degree = dv.degree AND e.u < e.v)
        |         THEN e.v ELSE e.u END AS dst,
        |         CASE WHEN du.degree < dv.degree
        |           OR (du.degree = dv.degree AND e.u < e.v)
        |         THEN dv.degree ELSE du.degree END AS dd
        |  FROM e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v),
        |w AS (SELECT e1.src AS x, e1.dst AS y, e2.dst AS z
        |      FROM o e1 JOIN o e2 ON e1.src = e2.src
        |      WHERE e1.dd < e2.dd OR (e1.dd = e2.dd AND e1.dst < e2.dst)),
        |tr AS (SELECT w.x, w.y, w.z FROM w
        |       WHERE EXISTS (SELECT 1 FROM o
        |                     WHERE o.src = w.y AND o.dst = w.z)),
        |tc AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS triangles FROM (
        |  SELECT x AS node FROM tr UNION ALL SELECT y FROM tr
        |  UNION ALL SELECT z FROM tr) GROUP BY 1)
        |SELECT deg.node, deg.degree,
        |  COALESCE(tc.triangles, 0) AS triangles,
        |  CASE WHEN deg.degree >= 2
        |    THEN 2.0 * COALESCE(tc.triangles, 0)
        |         / (deg.degree * (deg.degree - 1))
        |    ELSE 0.0 END AS lcc
        |FROM deg LEFT JOIN tc USING (node)
        |ORDER BY node""".stripMargin),

    // ── 3-core of the token graph, 5 fixed peeling rounds: per round
    //    one degree count + two node-keyed semi-joins, edge list only
    //    shrinks — the dense "establishment vocabulary" core
    //    (Graph.kCore scaladoc; oracle unrolls the 5 rounds).
    Query("ext_kcore", (s, dir) =>
      Graph.kCore(
        TextPipeline.skipgramPairCounts(
          t(s, dir, "documents"), col("text"), window = 1),
        col("tok_a"), col("tok_b"), k = 3)
        .orderBy("node"),
      // k-core replay: same simple-graph CTE, then the 5 peeling rounds
      // unrolled mechanically (degree count → keep set → two-sided
      // semi-join), matching the engine's fixed-round contract. The
      // edge and keep sets are MATERIALIZED: each round reads the last
      // round's edges three times, and an inlined CTE re-expands every
      // round before it (about 3^5 copies; 344 s at sf0.001, 0.05 s
      // materialized).
      {
        val base =
          s"""WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
            |${tokenPairs(1)},
            |raw AS (SELECT p['a'] AS a, p['b'] AS b
            |        FROM (SELECT unnest(ps) AS p FROM pl)),
            |e0 AS MATERIALIZED (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
            |       FROM raw WHERE a <> b)""".stripMargin
        val rounds = (1 to 5).map { r =>
          s""",
             |d$r AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
             |  SELECT u AS node FROM e${r - 1}
             |  UNION ALL SELECT v FROM e${r - 1}) GROUP BY 1),
             |k$r AS MATERIALIZED (SELECT node FROM d$r WHERE degree >= 3),
             |e$r AS MATERIALIZED (SELECT e.u, e.v FROM e${r - 1} e
             |  JOIN k$r ku ON ku.node = e.u
             |  JOIN k$r kv ON kv.node = e.v)""".stripMargin
        }.mkString
        base + rounds +
          """
            |SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
            |  SELECT u AS node FROM e5 UNION ALL SELECT v FROM e5)
            |GROUP BY 1 ORDER BY node""".stripMargin
      }),

    // ── Multi-source BFS over the token co-occurrence graph: exact
    //    hop distance from the graph's max-degree token (deterministic
    //    tie-break: smallest token), 3 fixed expansion rounds — the
    //    bounded-radius "within k links of the hub" set, next to
    //    ext_ppr's flow-mass ranking (Graph.bfsHops scaladoc; oracle
    //    unrolls the 3 rounds like ext_kcore's peels).
    Query("ext_bfs_hops", (s, dir) => {
      // r18: cut the pair-count table once — the seed derivation and the
      // operator's own doubled edge build each replayed the doc scan
      val edges = Checkpointing.cut(TextPipeline.skipgramPairCounts(
        t(s, dir, "documents"), col("text"), window = 1))
      val und = edges.select(col("tok_a").as("x"), col("tok_b").as("y"))
        .filter(col("x") =!= col("y"))
        .select(least(col("x"), col("y")).as("u"),
          greatest(col("x"), col("y")).as("v"))
        .distinct()
      val seed = und.select(col("u").as("node"))
        .union(und.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("degree"))
        .orderBy(col("degree").desc, col("node"))
        .limit(1).select("node")
      Graph.bfsHops(edges, col("tok_a"), col("tok_b"), seed, maxHops = 3)
        .orderBy("node")
    },
      // BFS replay: the ext_kcore token-edge CTE, the max-degree seed
      // (degree DESC, node ASC, LIMIT 1), then 3 unrolled frontier
      // expansions — each a distinct-neighbors join anti-filtered against
      // the labeled-so-far set (Graph.bfsHops's synchronous rounds).
      {
        val base =
          s"""WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
            |${tokenPairs(1)},
            |raw AS (SELECT p['a'] AS a, p['b'] AS b
            |        FROM (SELECT unnest(ps) AS p FROM pl)),
            |e0 AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
            |       FROM raw WHERE a <> b),
            |und AS (SELECT u AS src, v AS dst FROM e0
            |        UNION ALL SELECT v, u FROM e0),
            |deg AS (SELECT node, COUNT(*) AS degree FROM (
            |  SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0)
            |  GROUP BY 1),
            |seed AS (SELECT node FROM deg ORDER BY degree DESC, node LIMIT 1),
            |l0 AS (SELECT node, CAST(0 AS BIGINT) AS hops FROM seed)""".stripMargin
        val rounds = (1 to 3).map { r =>
          val prevF = if (r == 1) "l0" else s"f${r - 1}"
          s""",
             |f$r AS (SELECT DISTINCT e.dst AS node
             |  FROM und e JOIN $prevF f ON e.src = f.node
             |  WHERE NOT EXISTS (
             |    SELECT 1 FROM l${r - 1} l WHERE l.node = e.dst)),
             |l$r AS (SELECT node, hops FROM l${r - 1}
             |  UNION ALL SELECT node, CAST($r AS BIGINT) FROM f$r)""".stripMargin
        }.mkString
        base + rounds +
          """
            |SELECT node, hops FROM l3 ORDER BY node""".stripMargin
      })
  )
}
