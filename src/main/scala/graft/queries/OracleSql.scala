package graft.queries

/** DuckDB replays of engine decisions that oracles of several query
  * families share, each written once (a replay shared inside one family
  * is a private val of that family). Oracles interpolate them into their own
  * `s"""…""".stripMargin` text; every builder renders the lines the
  * oracles used to spell out (continuation lines carry their own
  * indentation and never start with a margin bar). */
object OracleSql {

  /** `CosineSim` over the first `dims` elements of the list columns `a`
    * and `b`: the left-to-right dot product over the product of the two
    * norms, all in double. */
  def cosine(a: String, b: String, dims: Int = 64): String = {
    val r = s"range(1, ${dims + 1})"
    s"""list_sum(list_transform($r,
       |        i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))
       |      / (sqrt(list_sum(list_transform($r,
       |           i -> CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE))))
       |         * sqrt(list_sum(list_transform($r,
       |           i -> CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))))""".stripMargin
  }

  /** [[cosine]] rounded to 6dp, the engine's `round(cosine_sim(a, b), 6)`
    * that every similarity ranking sorts on. */
  def cosine6(a: String, b: String, dims: Int = 64): String =
    s"""round(
       |      ${cosine(a, b, dims)},
       |      6)""".stripMargin

  /** The `pl` CTE over a `toks` CTE of space-split token lists `t`: per
    * document, the list of token pairs (a, b) at most `maxGap` positions
    * apart, in position order (the co-occurrence and token-graph edge
    * source). */
  def tokenPairs(maxGap: Int): String =
    s"""pl AS (
       |  SELECT flatten(list_transform(range(1, least($maxGap, len(t) - 1) + 1),
       |           d -> list_transform(range(1, len(t) - d + 1),
       |             i -> struct_pack(a := t[CAST(i AS INT)],
       |                              b := t[CAST(i + d AS INT)])))) AS ps
       |  FROM toks WHERE len(t) >= 2)""".stripMargin

  private val normalizedText = """trim(regexp_replace(lower(text),'\s+',' ','g'))"""

  /** Connected components of the near-duplicate graph of `docs` (a
    * relation of doc_id, text), as CTEs for a `WITH RECURSIVE`: `sh`
    * (each document's distinct `k`-char shingles of its normalized text),
    * `e0` (candidate pairs `a`, `b` joined `ON pairs` whose 6dp shingle
    * Jaccard is at least 0.5), `edges` (both directions) and `reach`
    * (every (id, label) a document reaches; its component's id is the
    * MIN label — the engine's min-label propagation fixpoint). */
  def shingleComponents(k: Int, docs: String, pairs: String): String =
    s"""sh AS MATERIALIZED (
       |  SELECT doc_id,
       |    list_distinct(list_transform(
       |      range(1, greatest(2, length($normalizedText) - ${k - 2})),
       |      i -> substr($normalizedText, i, $k))) AS s
       |  FROM $docs),
       |e0 AS MATERIALIZED (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM sh a JOIN sh b ON $pairs
       |  WHERE round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
       |        / len(list_distinct(list_concat(a.s, b.s))), 6) >= 0.5),
       |edges AS MATERIALIZED (
       |  SELECT id_a AS src, id_b AS dst FROM e0
       |  UNION ALL SELECT id_b, id_a FROM e0),
       |reach AS (
       |  SELECT doc_id AS id, doc_id AS label FROM $docs
       |  UNION
       |  SELECT e.src AS id, r.label FROM edges e JOIN reach r ON r.id = e.dst)""".stripMargin

  /** One FNV-1a 64 step over the BIGINT hash `h` and the byte `c`:
    * (h xor c) * 1099511628211 wrapped to a signed 64-bit value, as the
    * JVM's long multiply wraps (the SimHash64 and multimodal byte-hash
    * replays). Renders as a CASE ... END expression. */
  val fnv1aStep: String =
    """CASE WHEN ((CASE WHEN xor(h, c) < 0 THEN CAST(xor(h, c) AS HUGEINT) + 18446744073709551616::HUGEINT
      |                  ELSE CAST(xor(h, c) AS HUGEINT) END) * 1099511628211::HUGEINT)
      |                 % 18446744073709551616::HUGEINT >= 9223372036854775808::HUGEINT
      |        THEN ((CASE WHEN xor(h, c) < 0 THEN CAST(xor(h, c) AS HUGEINT) + 18446744073709551616::HUGEINT
      |                  ELSE CAST(xor(h, c) AS HUGEINT) END) * 1099511628211::HUGEINT)
      |                 % 18446744073709551616::HUGEINT - 18446744073709551616::HUGEINT
      |        ELSE ((CASE WHEN xor(h, c) < 0 THEN CAST(xor(h, c) AS HUGEINT) + 18446744073709551616::HUGEINT
      |                  ELSE CAST(xor(h, c) AS HUGEINT) END) * 1099511628211::HUGEINT)
      |                 % 18446744073709551616::HUGEINT
      |      END""".stripMargin
}
