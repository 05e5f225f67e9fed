package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.FuzzyJoin
import graft.queries.Query._

/** Entity resolution: edit-distance pairs, the fuzzy join and
  * Fellegi–Sunter record linkage. */
object LinkageQueries {

  def all: Seq[Query] = Seq(
    // ── Edit-distance similarity (Levenshtein) on consecutive-id pairs:
    //    the character-level verify primitive complementing n-gram
    //    Jaccard (built-in codegen'd levenshtein — no UDF). Prefixes
    //    (60 chars) keep the O(m·n) DP bounded per pair; at corpus scale
    //    the candidate pairs come from LSH, never all-pairs.
    Query("ext_edit_distance", (s, dir) => {
      val d = t(s, dir, "documents")
        .select(col("doc_id"), substring(col("text"), 1, 60).as("tp"))
      val a = d.select(col("doc_id").as("id_a"), col("tp").as("ta"))
      val b = d.select(col("doc_id").as("id_b"), col("tp").as("tb"))
      a.join(b, col("id_b") === col("id_a") + 1)
        .select(col("id_a"), col("id_b"),
          levenshtein(col("ta"), col("tb")).cast("long").as("edit_dist"))
        .orderBy("id_a")
    },
      """SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(levenshtein(substr(a.text, 1, 60), substr(b.text, 1, 60))
        |       AS BIGINT) AS edit_dist
        |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |ORDER BY id_a""".stripMargin),

    // ── Fuzzy string join: every (part, perturbed-part) pair within
    //    edit distance 1, via prefix-filtered q-gram blocking —
    //    FuzzyJoin.editDistanceJoin. The right side drops each name's
    //    first character, so every row has at least its own origin as a
    //    match. The DuckDB oracle is the full QUADRATIC join: a green
    //    hash row certifies the blocking's exact recall, not just the
    //    arithmetic.
    Query("ext_fuzzy_join", (s, dir) => {
      val parts = t(s, dir, "part").filter(pmod(col("p_partkey"), lit(4L)) === 0)
      val leftT = parts.select(col("p_partkey").as("id"), col("p_name").as("key"))
      val rightT = parts.select(
        (col("p_partkey") + 5000000L).as("id"),
        expr("substring(p_name, 2)").as("key"))
      FuzzyJoin.editDistanceJoin(leftT, rightT, maxDist = 1)
        .select("id_l", "id_r", "edit_dist")
        .orderBy("id_l", "id_r")
    },
      // The FULL quadratic join — no blocking — so a hash match proves the
      // engine's prefix-filtered blocking recalled every qualifying pair.
      """WITH l AS (
        |  SELECT p_partkey AS id_l, p_name AS key_l
        |  FROM part WHERE p_partkey % 4 = 0),
        |r AS (
        |  SELECT p_partkey + 5000000 AS id_r, substring(p_name, 2) AS key_r
        |  FROM part WHERE p_partkey % 4 = 0)
        |SELECT id_l, id_r,
        |       CAST(levenshtein(key_l, key_r) AS BIGINT) AS edit_dist
        |FROM l CROSS JOIN r
        |WHERE abs(length(key_l) - length(key_r)) <= 1
        |  AND levenshtein(key_l, key_r) <= 1
        |ORDER BY id_l, id_r""".stripMargin),

    // ── Probabilistic record linkage (Fellegi–Sunter): score a
    //    perturbed re-delivery of the customer file against the master
    //    on four fields — true matches (same key) and shifted-key
    //    controls in one candidate table; weights are driver-side
    //    double literals, the per-pair score a fixed map-side fold
    //    (operators.Linkage scaladoc — zero shuffle beyond blocking).
    Query("ext_record_linkage", (s, dir) => {
      val master = t(s, dir, "customer").select(
        col("c_custkey").as("key"), col("c_name").as("name"),
        col("c_nationkey").as("nation"), col("c_acctbal").as("bal"),
        col("c_mktsegment").as("segment"))
      val delta = master.select(
        (col("key") + 1000000L).as("dkey"), col("key").as("orig"),
        when(col("key") % 7 === 0, concat(col("name"), lit("X")))
          .otherwise(col("name")).as("dname"),
        col("nation").as("dnation"),
        when(col("key") % 3 === 0, col("bal") + lit(250.0))
          .otherwise(col("bal")).as("dbal"),
        when(col("key") % 5 === 0, lit("NONE"))
          .otherwise(col("segment")).as("dsegment"))
      val cand = master.join(delta, col("orig") === col("key"))
        .unionByName(master.join(delta, col("orig") === col("key") + 1))
      graft.operators.Linkage.linkScore(
        cand, col("key"), col("dkey"),
        Seq(
          graft.operators.Linkage.Field("name",
            col("name") === col("dname"), 0.93, 0.001),
          graft.operators.Linkage.Field("bal_bucket",
            floor(col("bal") / 100.0) === floor(col("dbal") / 100.0),
            0.9, 0.005),
          graft.operators.Linkage.Field("nation",
            col("nation") === col("dnation"), 0.95, 0.04),
          graft.operators.Linkage.Field("segment",
            col("segment") === col("dsegment"), 0.9, 0.2)),
        upper = 5.0, lower = 0.0)
        .orderBy("id_l", "id_r")
    },
      // Fellegi–Sunter replay: the m/u weights render as shortest-repr
      // double literals (the lshPlanesSql precedent — both engines parse
      // back the identical double), and the score is the same fixed
      // left-to-right CASE fold the engine runs.
      {
        def w(m: Double, u: Double): (Double, Double) =
          (math.log(m / u) / math.log(2.0),
            math.log((1.0 - m) / (1.0 - u)) / math.log(2.0))
        val (na, nd) = w(0.93, 0.001)
        val (pa, pd) = w(0.9, 0.005)
        val (ta, td) = w(0.95, 0.04)
        val (sa, sd) = w(0.9, 0.2)
        s"""WITH m AS (
           |  SELECT c_custkey AS key, c_name AS name, c_acctbal AS bal,
           |         c_nationkey AS nation, c_mktsegment AS segment
           |  FROM customer),
           |d AS (
           |  SELECT key + 1000000 AS dkey, key AS orig,
           |    CASE WHEN key % 7 = 0 THEN name || 'X' ELSE name END AS dname,
           |    CASE WHEN key % 3 = 0 THEN bal + 250.0 ELSE bal END AS dbal,
           |    nation AS dnation,
           |    CASE WHEN key % 5 = 0 THEN 'NONE' ELSE segment END AS dsegment
           |  FROM m),
           |cand AS (
           |  SELECT m.*, d.* FROM m JOIN d ON d.orig = m.key
           |  UNION ALL
           |  SELECT m.*, d.* FROM m JOIN d ON d.orig = m.key + 1),
           |sc AS (
           |  SELECT key AS id_l, dkey AS id_r,
           |    CAST(CAST(name = dname AS INT)
           |       + CAST(floor(bal / 100.0) = floor(dbal / 100.0) AS INT)
           |       + CAST(nation = dnation AS INT)
           |       + CAST(segment = dsegment AS INT) AS BIGINT) AS n_agree,
           |    (((CASE WHEN name = dname THEN $na ELSE $nd END)
           |     + (CASE WHEN floor(bal / 100.0) = floor(dbal / 100.0)
           |             THEN $pa ELSE $pd END))
           |     + (CASE WHEN nation = dnation THEN $ta ELSE $td END))
           |     + (CASE WHEN segment = dsegment THEN $sa ELSE $sd END) AS score
           |  FROM cand)
           |SELECT id_l, id_r, n_agree, round(score, 6) AS score,
           |  CASE WHEN score >= 5.0 THEN 'link'
           |       WHEN score >= 0.0 THEN 'possible'
           |       ELSE 'non_link' END AS decision
           |FROM sc ORDER BY id_l, id_r""".stripMargin
      })
  )
}
