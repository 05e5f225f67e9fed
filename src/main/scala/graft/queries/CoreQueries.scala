package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Relational
import graft.operators.Relational.Bucket
import graft.queries.Query._

/** The reference surface (SURVEY.md §2 A/B rows) over the TPC-H-ish
  * tables, plus the joins, windows, grouping sets, set ops and scalar
  * functions a Spark engine must cover. */
object CoreQueries {

  def all: Seq[Query] = Seq(
    // ── A1: scan + projection (ref backend/utils.py:156-158). Catalyst
    //    prunes the parquet scan to the 4 columns; orderBy+limit compiles
    //    to TakeOrderedAndProject (per-partition top-k, no global sort).
    Query("a1_scan_project", (s, dir) => {
      t(s, dir, "lineitem")
        .select(
          col("l_orderkey"),
          col("l_linenumber").cast("long").as("l_linenumber"),
          col("l_quantity"),
          col("l_extendedprice"))
        // (l_orderkey, l_linenumber) is NOT unique in this testdata —
        // order by every output column for a deterministic result.
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .limit(2000)
    },
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |       l_quantity, l_extendedprice
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |LIMIT 2000""".stripMargin),

    // ── A2: conjunctive equality WHERE (ref backend/utils.py:145-154).
    //    Both conjuncts reach the scan as PushedFilters.
    Query("a2_filter_eq", (s, dir) => {
      Relational.conjunctiveFilter(
        t(s, dir, "lineitem"),
        Seq(Some(col("l_returnflag") === "R"), Some(col("l_linestatus") === "F")))
        .select(
          col("l_orderkey"),
          col("l_linenumber").cast("long").as("l_linenumber"),
          col("l_quantity"))
        .orderBy("l_orderkey", "l_linenumber", "l_quantity")
        .limit(2000)
    },
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, l_quantity
        |FROM lineitem WHERE l_returnflag = 'R' AND l_linestatus = 'F'
        |ORDER BY l_orderkey, l_linenumber, l_quantity LIMIT 2000""".stripMargin),

    // ── A3/B7: DISTINCT projection (ref backend/func.py:37-39,
    //    backend/app.py:282-286).
    Query("a3_distinct", (s, dir) =>
      Relational.distinctValues(t(s, dir, "customer"), "c_mktsegment")
        .withColumnRenamed("c_mktsegment", "segment")
        .orderBy("segment"),
      "SELECT DISTINCT c_mktsegment AS segment FROM customer ORDER BY segment"),

    // ── B1: rename-projection (ref backend/app.py:15-26,33-46).
    Query("b1_rename_project", (s, dir) => {
      Relational.renameProject(
        t(s, dir, "customer"),
        Seq("c_custkey" -> "id", "c_name" -> "name", "c_acctbal" -> "balance",
          "c_mktsegment" -> "segment"))
        .orderBy("id")
        .limit(2000)
    },
      """SELECT c_custkey AS id, c_name AS name, c_acctbal AS balance,
        |       c_mktsegment AS segment
        |FROM customer ORDER BY id LIMIT 2000""".stripMargin),

    // ── B2: map → array-of-structs round trip (ref backend/app.py:48-53).
    //    Testdata has no map columns, so we build the per-order
    //    {linenumber→price} map, run the reference transform
    //    (map_entries → struct array), and explode back to flat rows the
    //    oracle can reproduce. Higher-order functions only — no UDFs.
    Query("b2_map_roundtrip", (s, dir) => {
      // (l_orderkey, l_linenumber) is not unique in this testdata, and map
      // keys must be — pre-aggregate to unique keys first.
      val li = t(s, dir, "lineitem").filter(col("l_orderkey") <= 500)
        .groupBy("l_orderkey", "l_linenumber")
        .agg(min(col("l_extendedprice")).as("price0"))
      li.groupBy("l_orderkey")
        .agg(map_from_entries(
          collect_list(struct(col("l_linenumber"), col("price0")))).as("m"))
        .select(
          col("l_orderkey"),
          explode(transform(
            map_entries(col("m")),
            e => struct(e("key").as("line_no"), e("value").as("price")))).as("e"))
        .select(
          col("l_orderkey"),
          col("e.line_no").cast("long").as("line_no"),
          col("e.price").as("price"))
        .orderBy("l_orderkey", "line_no")
    },
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS line_no,
        |       MIN(l_extendedprice) AS price
        |FROM lineitem WHERE l_orderkey <= 500
        |GROUP BY l_orderkey, l_linenumber ORDER BY l_orderkey, line_no""".stripMargin),

    // ── B3: derived surrogate key (ref backend/app.py:55-57).
    Query("b3_surrogate_key", (s, dir) => {
      t(s, dir, "part")
        .select(
          col("p_partkey"),
          Relational.surrogateKey(col("p_brand"), col("p_name")).as("id"))
        .orderBy("p_partkey")
        .limit(2000)
    },
      """SELECT p_partkey, replace(concat_ws('_', p_brand, p_name), ' ', '_') AS id
        |FROM part ORDER BY p_partkey LIMIT 2000""".stripMargin),

    // ── B4: group-by-key SUM ranking (ref backend/app.py:63-85). Partial
    //    (map-side) aggregation shrinks the shuffle to |users| rows.
    Query("b4_group_sum", (s, dir) => {
      t(s, dir, "events")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"), xsum(col("value")).as("total_value"))
        .orderBy(col("total_value").desc, col("user_id"))
    },
      """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events GROUP BY user_id ORDER BY total_value DESC, user_id""".stripMargin),

    // ── B5: GROUP BY year, multi-aggregate (ref backend/app.py:88-129).
    Query("b5_year_multiagg", (s, dir) => {
      t(s, dir, "orders")
        .filter(col("o_orderdate").isNotNull) // ref drops null years (:103-104)
        .groupBy(year(col("o_orderdate")).cast("long").as("order_year"))
        .agg(
          count(lit(1)).as("n_orders"),
          xsum(col("o_totalprice")).as("total_price"),
          (xsum(col("o_totalprice")) / count(lit(1))).as("avg_price"))
        .orderBy("order_year")
    },
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
        |       CAST(COUNT(*) AS BIGINT) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_price
        |FROM orders WHERE o_orderdate IS NOT NULL
        |GROUP BY 1 ORDER BY order_year""".stripMargin),

    // ── B6: share-of-total per group (ref backend/app.py:132-164). Global
    //    total via window over the ALREADY-AGGREGATED (5-row) result — the
    //    base table never passes through a single partition.
    Query("b6_share_of_total", (s, dir) => {
      Relational.shareOfTotal(t(s, dir, "orders"), col("o_orderpriority"), count(lit(1)))
        .select(
          col("group_key").as("priority"),
          col("group_weight").cast("long").as("n"),
          col("share"))
        .orderBy("priority")
    },
      """SELECT o_orderpriority AS priority, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(COUNT(*) AS DOUBLE) / SUM(COUNT(*)) OVER () AS share
        |FROM orders GROUP BY o_orderpriority ORDER BY priority""".stripMargin),

    // ── B7: DISTINCT values (ref backend/app.py:282-286).
    Query("b7_distinct_values", (s, dir) =>
      Relational.distinctValues(t(s, dir, "part"), "p_brand")
        .withColumnRenamed("p_brand", "brand")
        .orderBy("brand"),
      "SELECT DISTINCT p_brand AS brand FROM part ORDER BY brand"),

    // ── B8: equality filter + projection (ref backend/app.py:289-294).
    Query("b8_filter_project", (s, dir) => {
      t(s, dir, "part")
        .filter(col("p_brand") === "Brand#13")
        .select(col("p_partkey"), col("p_name").as("name"), col("p_retailprice"))
        .orderBy("p_partkey")
    },
      """SELECT p_partkey, p_name AS name, p_retailprice
        |FROM part WHERE p_brand = 'Brand#13' ORDER BY p_partkey""".stripMargin),

    // ── B9: point lookup, first match (ref backend/app.py:297-307). The
    //    key predicate is pushed to the scan; limit(1) short-circuits.
    Query("b9_point_lookup", (s, dir) => {
      t(s, dir, "orders")
        .filter(col("o_orderkey") === 42L)
        .select(
          col("o_orderkey"),
          col("o_custkey"),
          col("o_orderstatus"),
          col("o_totalprice"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"))
        .limit(1)
    },
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |       strftime(o_orderdate, '%Y-%m-%d') AS order_date
        |FROM orders WHERE o_orderkey = 42 LIMIT 1""".stripMargin),

    // ── B10: sort-by-metric DESC ranking (ref backend/app.py:318-328),
    //    deterministic tie-break on the key (SURVEY §7.4).
    Query("b10_ranking", (s, dir) => {
      t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_name").as("name"), col("s_acctbal"))
        .orderBy(col("s_acctbal").desc, col("s_suppkey"))
    },
      """SELECT s_suppkey, s_name AS name, s_acctbal
        |FROM supplier ORDER BY s_acctbal DESC, s_suppkey""".stripMargin),

    // ── B11: optional-conjunct filter + sort (ref backend/app.py:332-374),
    //    incl. the between-on-one-column range predicate (:348-352).
    Query("b11_recommendations", (s, dir) => {
      Relational.conjunctiveFilter(
        t(s, dir, "part"),
        Seq(
          Some(col("p_size") >= 20),                              // hp >= (:354)
          Some(col("p_retailprice").between(905.0, 995.0)),       // price range (:348-352)
          Some(col("p_type") === "PROMO"),                        // type = (:360)
          None))                                                  // absent optional conjunct
        .select(col("p_partkey"), col("p_name").as("name"), col("p_brand").as("brand"),
          col("p_size").cast("long").as("size"), col("p_retailprice"))
        .orderBy(col("p_retailprice").desc, col("p_partkey"))
    },
      """SELECT p_partkey, p_name AS name, p_brand AS brand,
        |       CAST(p_size AS BIGINT) AS size, p_retailprice
        |FROM part
        |WHERE p_size >= 20 AND p_retailprice BETWEEN 905.0 AND 995.0
        |  AND p_type = 'PROMO'
        |ORDER BY p_retailprice DESC, p_partkey""".stripMargin),

    // ── B12: global aggregates + deterministic ARGMAX
    //    (ref backend/app.py:377-401; argmax :390-394). The top-1 side is
    //    TakeOrderedAndProject(1) and the single-row cross join broadcasts.
    Query("b12_overview_argmax", (s, dir) => {
      val c = t(s, dir, "customer")
      val totals = c.agg(
        count(lit(1)).as("n_customers"),
        xsum(col("c_acctbal")).as("total_balance"),
        (xsum(col("c_acctbal")) / count(lit(1))).as("avg_balance"))
      val top = Relational.argmax(c, col("c_acctbal"), col("c_custkey"))
        .select(col("c_name").as("top_customer"))
      totals.crossJoin(top)
    },
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
        |       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS total_balance,
        |       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_balance,
        |       (SELECT c_name FROM customer ORDER BY c_acctbal DESC, c_custkey LIMIT 1)
        |         AS top_customer
        |FROM customer""".stripMargin),

    // ── B13: metric-selector projection over the B5 trend
    //    (ref backend/app.py:404-419; year stringified at :123).
    Query("b13_metric_projection", (s, dir) => {
      t(s, dir, "orders")
        .filter(col("o_orderdate").isNotNull)
        .groupBy(year(col("o_orderdate")).cast("long").as("y"))
        .agg(count(lit(1)).as("value"))
        .select(col("y").cast("string").as("date"), col("value"))
        .orderBy("date")
    },
      """SELECT CAST(CAST(year(o_orderdate) AS BIGINT) AS VARCHAR) AS date,
        |       CAST(COUNT(*) AS BIGINT) AS value
        |FROM orders WHERE o_orderdate IS NOT NULL
        |GROUP BY 1 ORDER BY date""".stripMargin),

    // ── B14: static-range histogram, EMPTY BUCKETS PRESERVED via spine
    //    join (ref backend/app.py:422-459; golden [1,0,1,1,1] at
    //    test_app.py:229-236). Last bucket [500k,∞) is empty in testdata
    //    (max o_totalprice ≈ 499978) — proving the spine works.
    Query("b14_histogram", (s, dir) => {
      Relational.histogram(
        s,
        t(s, dir, "orders"),
        col("o_totalprice"),
        col("o_totalprice"),
        Seq(
          Bucket(0, "[0,100k)", 0.0, Some(100000.0)),
          Bucket(1, "[100k,200k)", 100000.0, Some(200000.0)),
          Bucket(2, "[200k,300k)", 200000.0, Some(300000.0)),
          Bucket(3, "[300k,400k)", 300000.0, Some(400000.0)),
          Bucket(4, "[400k,500k)", 400000.0, Some(500000.0)),
          Bucket(5, "[500k,inf)", 500000.0, None)))
    },
      """WITH spine(bucket_id, label) AS (VALUES
        |  (0, '[0,100k)'), (1, '[100k,200k)'), (2, '[200k,300k)'),
        |  (3, '[300k,400k)'), (4, '[400k,500k)'), (5, '[500k,inf)')),
        |binned AS (
        |  SELECT CASE
        |    WHEN o_totalprice >= 0 AND o_totalprice < 100000 THEN 0
        |    WHEN o_totalprice >= 100000 AND o_totalprice < 200000 THEN 1
        |    WHEN o_totalprice >= 200000 AND o_totalprice < 300000 THEN 2
        |    WHEN o_totalprice >= 300000 AND o_totalprice < 400000 THEN 3
        |    WHEN o_totalprice >= 400000 AND o_totalprice < 500000 THEN 4
        |    WHEN o_totalprice >= 500000 THEN 5 END AS bucket_id,
        |    o_totalprice
        |  FROM orders),
        |agged AS (
        |  SELECT bucket_id, COUNT(*) AS n,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s
        |  FROM binned WHERE bucket_id IS NOT NULL GROUP BY bucket_id)
        |SELECT CAST(spine.bucket_id AS BIGINT) AS bucket_id, spine.label AS label,
        |       CAST(COALESCE(agged.n, 0) AS BIGINT) AS n,
        |       COALESCE(agged.s / agged.n, 0.0) AS avg_value
        |FROM spine LEFT JOIN agged ON spine.bucket_id = agged.bucket_id
        |ORDER BY bucket_id""".stripMargin),

    // ── B15: dimension dispatch fallback — literal table
    //    (ref backend/app.py:463-481, values :472-481).
    Query("b15_literal_dispatch", (s, dir) => {
      import s.implicits._
      Seq(("100-150马力", 0.4), ("150-200马力", 0.35), ("200+马力", 0.25))
        .toDF("range", "preference")
        .orderBy("range")
    },
      """SELECT * FROM (VALUES
        |  ('100-150马力', 0.4), ('150-200马力', 0.35), ('200+马力', 0.25))
        |  t(range, preference)
        |ORDER BY range""".stripMargin),

    // ── J1: broadcast equi-join (capability beyond the single-table
    //    reference; SURVEY §2.C). region (5 rows) is explicitly broadcast.
    Query("j1_broadcast_join", (s, dir) => {
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name").as("region"))
        .agg(count(lit(1)).as("n_nations"))
        .orderBy("region")
    },
      """SELECT r_name AS region, CAST(COUNT(*) AS BIGINT) AS n_nations
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY region""".stripMargin),

    // ── J2: large-large equi-join (sort-merge / shuffled-hash territory
    //    at scale). lineitem is PRE-AGGREGATED to one row per orderkey
    //    before the join, so the join input shrinks ~4× and the shuffle
    //    carries (orderkey, n, qty) instead of raw line items — decimal
    //    partial sums re-aggregate exactly, so results are unchanged.
    Query("j2_join_agg", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
          count(lit(1)).as("n0"),
          sum(col("l_quantity").cast("decimal(18,6)")).as("q0"))
      val o = t(s, dir, "orders")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderpriority").as("priority"))
        .agg(
          sum(col("n0")).cast("long").as("n_items"),
          sum(col("q0")).cast("double").as("total_qty"))
        .orderBy("priority")
    },
      """SELECT o_orderpriority AS priority, CAST(COUNT(*) AS BIGINT) AS n_items,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS total_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY priority""".stripMargin),

    // ── J3: anti join — customers with no URGENT orders, per segment
    //    (every customer has some order in this testdata; the filtered
    //    right side keeps the anti join non-degenerate).
    Query("j3_anti_join", (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n"))
        .orderBy("segment")
    },
      """SELECT c_mktsegment AS segment, CAST(COUNT(*) AS BIGINT) AS n
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderpriority = '1-URGENT')
        |GROUP BY c_mktsegment ORDER BY segment""".stripMargin),

    // ── J4: semi join — parts that appear in lineitem, per brand.
    Query("j4_semi_join", (s, dir) => {
      val p = t(s, dir, "part")
      val li = t(s, dir, "lineitem")
      p.join(li, p("p_partkey") === li("l_partkey"), "left_semi")
        .groupBy(col("p_brand").as("brand"))
        .agg(count(lit(1)).as("n"))
        .orderBy("brand")
    },
      """SELECT p_brand AS brand, CAST(COUNT(*) AS BIGINT) AS n
        |FROM part
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
        |GROUP BY p_brand ORDER BY brand""".stripMargin),

    // ── J5: three-way join + top-k revenue (TPC-H Q3-flavored). The
    //    orderBy+limit is a distributed top-k, not a full sort. Revenue
    //    is pre-aggregated per orderkey BELOW the join (j2's discipline):
    //    the raw formulation carried every lineitem row through the join
    //    and ran the final aggregate over |lineitem| rows keyed by
    //    (custkey, name) — at 10× volume that hash table was the bench's
    //    worst memory hog. Decimal sums re-aggregate exactly, so the
    //    result is bit-identical; c_name joins AFTER the per-customer
    //    aggregate, touching |customers| rows instead of |lineitem|.
    Query("j5_revenue_topk", (s, dir) => {
      val o = t(s, dir, "orders")
      val liRev = t(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,6)")).as("rev0"))
      val custRev = liRev
        .join(o, liRev("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(sum(col("rev0")).cast("double").as("revenue"))
      val c = t(s, dir, "customer")
      custRev.join(c, custRev("o_custkey") === c("c_custkey"))
        .select(col("c_custkey"), col("c_name").as("name"), col("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },
      """SELECT c_custkey, c_name AS name,
        |       CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6)))
        |            AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY c_custkey, c_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin),

    // ── W1: window row_number — top order per customer.
    Query("w1_window_rank", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
        .orderBy("o_custkey")
    },
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         ROW_NUMBER() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn = 1 ORDER BY o_custkey""".stripMargin),

    // ── W2: running sum per key (exact decimal accumulation inside the
    //    window frame so the oracle reproduces it bit-for-bit).
    Query("w2_running_sum", (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ms"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .filter(col("user_id") < 10)
        .withColumn("ms", unix_millis(col("ts")))
        .withColumn("running_value",
          sum(col("value").cast("decimal(18,6)")).over(w).cast("double"))
        .select(col("user_id"), col("event_id"), col("running_value"))
        .orderBy("user_id", "ms", "event_id")
        .drop("ms")
    },
      """SELECT user_id, event_id,
        |       CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
        |         PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |         AS running_value
        |FROM events WHERE user_id < 10
        |ORDER BY user_id, epoch_ms(ts), event_id""".stripMargin),

    // ── W4: bounded window FRAME (moving aggregate over the last 3
    //    orders per customer). Frames are evaluated per-key after one
    //    shuffle on the partition key; the decimal frame-sum / exact
    //    count division keeps the average bit-identical cross-engine.
    Query("w4_moving_avg", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(-2, Window.currentRow)
      t(s, dir, "orders")
        .filter(col("o_custkey") < 50)
        .withColumn("mov_sum",
          sum(col("o_totalprice").cast("decimal(18,6)")).over(w).cast("double"))
        .withColumn("n_win", count(lit(1)).over(w))
        .select(col("o_custkey"), col("o_orderkey"),
          col("mov_sum"), (col("mov_sum") / col("n_win")).as("mov_avg"))
        .orderBy("o_custkey", "o_orderkey")
    },
      """WITH m AS (
        |  SELECT o_custkey, o_orderkey,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER w AS DOUBLE)
        |      AS mov_sum,
        |    COUNT(*) OVER w AS n_win
        |  FROM orders WHERE o_custkey < 50
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW))
        |SELECT o_custkey, o_orderkey, mov_sum, mov_sum / n_win AS mov_avg
        |FROM m ORDER BY o_custkey, o_orderkey""".stripMargin),

    // ── W5: rank-family window functions — ntile buckets, percent_rank,
    //    cume_dist. The window ORDER BY is o_orderkey (unique), so tile
    //    assignment among would-be ties is deterministic; percent_rank
    //    and cume_dist are single IEEE divisions of exact integer
    //    rank/count values — bit-identical cross-engine without rounding.
    Query("w5_ntile_cume", (s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("o_orderkey"))
      t(s, dir, "orders")
        .filter(col("o_custkey") < 100)
        .select(col("o_orderpriority"), col("o_orderkey"),
          ntile(4).over(w).cast("long").as("tile"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cume"))
        .orderBy("o_orderpriority", "o_orderkey")
    },
      """SELECT o_orderpriority, o_orderkey,
        |       CAST(ntile(4) OVER w AS BIGINT) AS tile,
        |       percent_rank() OVER w AS pct_rank,
        |       cume_dist() OVER w AS cume
        |FROM orders WHERE o_custkey < 100
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderkey)
        |ORDER BY o_orderpriority, o_orderkey""".stripMargin),

    // ── F3: ordered array aggregation — collect_list is partition-order
    //    dependent, so the engine convention is sort_array(collect_list)
    //    (deterministic on any cluster) plus element ops (size, first).
    //    The array is emitted string-joined: the parity check's pandas comparer
    //    cannot sort/hash a raw array column (r4 failure), and the joined
    //    form hash-checks the same ordered contents.
    Query("f3_array_agg", (s, dir) => {
      t(s, dir, "orders")
        .filter(col("o_custkey") < 50)
        .groupBy(col("o_custkey"))
        .agg(sort_array(collect_list(col("o_orderkey"))).as("keys_arr"))
        .select(col("o_custkey"),
          array_join(col("keys_arr"), ",").as("order_keys"),
          size(col("keys_arr")).cast("long").as("n_orders"),
          element_at(col("keys_arr"), 1).as("first_order"))
        .orderBy("o_custkey")
    },
      """SELECT o_custkey,
        |       array_to_string(list_sort(list(o_orderkey)), ',') AS order_keys,
        |       CAST(len(list(o_orderkey)) AS BIGINT) AS n_orders,
        |       list_sort(list(o_orderkey))[1] AS first_order
        |FROM orders WHERE o_custkey < 50
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin),

    // ── G1: distinct aggregation (capability; SURVEY §2.C notes the
    //    reference has none). Spark expands count(distinct) into a
    //    two-phase aggregate — partial distinct per partition first.
    Query("g1_count_distinct", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag").as("rf"))
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          count(lit(1)).as("n_rows"))
        .orderBy("rf")
    },
      """SELECT l_returnflag AS rf,
        |       CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
        |       CAST(COUNT(*) AS BIGINT) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY rf""".stripMargin),

    // ── G2: hierarchical ROLLUP subtotals (capability). Grouping nulls
    //    are labeled 'ALL' on both engines to dodge NULL-ordering
    //    divergence (Spark sorts NULLS FIRST, DuckDB NULLS LAST).
    Query("g2_rollup", (s, dir) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("n"))
        .orderBy("rf", "ls")
    },
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
        |       COALESCE(l_linestatus, 'ALL') AS ls,
        |       CAST(COUNT(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin),

    // ── G3: approximate distinct (HyperLogLog++) — ORACLED as an
    //    error-bound certificate: the sketch value itself is
    //    engine-specific, but |approx − exact| ≤ 5%·exact is a
    //    deterministic fact the oracle can state (rsd 0.02 ⇒ 5% is
    //    2.5σ). The row emits the exact count and the bound verdict;
    //    a sketch drifting out of spec flips within_bound → hash red.
    //    The (rf, partkey) pairs are deduplicated first: HLL++ registers
    //    depend only on the set of values hashed, so the estimate is the
    //    same, count over distinct non-null keys is countDistinct, and no
    //    HLL buffer is kept per (rf, partkey) group.
    Query("g3_approx_distinct", (s, dir) => {
      t(s, dir, "lineitem")
        .select(col("l_returnflag").as("rf"), col("l_partkey"))
        .distinct()
        .groupBy(col("rf"))
        .agg(
          approx_count_distinct(col("l_partkey"), 0.02).as("approx"),
          count(col("l_partkey")).as("exact_parts"))
        .select(col("rf"), col("exact_parts"),
          (abs(col("approx") - col("exact_parts")).cast("double")
            <= lit(0.05) * col("exact_parts").cast("double")).as("within_bound"))
        .orderBy("rf")
    },
      // the sketch's VALUE is engine-specific; its 5% error bound is not —
      // the oracle states the exact counts and that the bound held
      """SELECT l_returnflag AS rf,
        |       CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
        |       CAST(1 AS BOOLEAN) AS within_bound
        |FROM lineitem GROUP BY l_returnflag ORDER BY rf""".stripMargin),

    // ── G4: pivot — priorities × order status counts (empty cells → 0
    //    on both engines).
    Query("g4_pivot", (s, dir) => {
      val statuses = Seq("F", "O", "P")
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("priority"))
        .pivot("o_orderstatus", statuses)
        .count()
        .select(col("priority") +:
          statuses.map(st => coalesce(col(st), lit(0L)).as(s"n_$st")): _*)
        .orderBy("priority")
    },
      """SELECT o_orderpriority AS priority,
        |  CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_F,
        |  CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS n_O,
        |  CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS n_P
        |FROM orders GROUP BY o_orderpriority ORDER BY priority""".stripMargin),

    // ── W3: navigation window functions (lag/lead/ntile) per customer
    //    order timeline — (custkey, orderdate, orderkey) is a unique
    //    ordering, so prev/next/quartile are deterministic. One shuffle
    //    on the partition key, local sort, all three functions ride the
    //    same window.
    Query("w3_window_leadlag", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders")
        .select(
          col("o_custkey"), col("o_orderkey"),
          lag(col("o_orderkey"), 1).over(w).as("prev_order"),
          lead(col("o_orderkey"), 1).over(w).as("next_order"),
          ntile(4).over(w).cast("long").as("quartile"))
        .orderBy("o_custkey", "o_orderkey")
    },
      """SELECT o_custkey, o_orderkey,
        |  lag(o_orderkey) OVER w AS prev_order,
        |  lead(o_orderkey) OVER w AS next_order,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin),

    // ── G7: CUBE grouping sets — all 4 (rf × ls) grouping combinations
    //    in one pass (Expand + single partial-aggregated shuffle). NULL
    //    group labels coalesced to 'ALL' on both engines (same
    //    NULL-ordering dodge as g2_rollup).
    Query("g7_cube", (s, dir) => {
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("n"))
        .orderBy("rf", "ls")
    },
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
        |       COALESCE(l_linestatus, 'ALL') AS ls,
        |       CAST(COUNT(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin),

    // ── G8: explicit GROUPING SETS — the general form behind rollup/
    //    cube (arbitrary grouping combinations, one Expand + one
    //    partial-aggregated shuffle). Decimal-accumulated qty sum keeps
    //    the measure partition-order independent.
    Query("g8_grouping_sets", (s, dir) => {
      t(s, dir, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(18,6)")).cast("double")
            .as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("n"), col("sum_qty"))
        .orderBy("rf", "ls")
    },
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
        |       COALESCE(l_linestatus, 'ALL') AS ls,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |                        (l_returnflag), ())
        |ORDER BY rf, ls""".stripMargin),

    // ── F2: UNPIVOT — wide metric columns to long (metric, value) rows
    //    (Spark's native unpivot/melt, an Expand node: no shuffle until
    //    the downstream aggregate, which then partial-aggregates). The
    //    DuckDB twin is the equivalent UNION ALL spelling.
    Query("f2_unpivot", (s, dir) => {
      // aggregate BELOW the reshape: melting 600 k rows into 2.4 M
      // (metric, value) rows just to re-aggregate them is backwards at
      // any scale — one pass computes all per-column aggregates, and
      // unpivot reshapes the single result row (r7 measured: 1.7 →
      // 1.3 s; the exact decimal sums dominate, the row expansion was
      // the rest). count(col) preserves unpivot's drop-nulls semantics
      // per metric.
      def m(c: String) = struct(count(col(c)).as("n"), xsum(col(c)).as("total"))
      t(s, dir, "lineitem")
        .agg(m("l_quantity").as("quantity"),
          m("l_extendedprice").as("extendedprice"),
          m("l_discount").as("discount"),
          m("l_tax").as("tax"))
        .unpivot(Array.empty[Column], "metric", "v")
        .select(col("metric"), col("v.n").as("n"), col("v.total").as("total"))
        .orderBy("metric")
    },
      """WITH u AS (
        |  SELECT 'quantity' AS metric, l_quantity AS value FROM lineitem
        |  UNION ALL SELECT 'extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL SELECT 'discount', l_discount FROM lineitem
        |  UNION ALL SELECT 'tax', l_tax FROM lineitem)
        |SELECT metric, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM u GROUP BY metric ORDER BY metric""".stripMargin),

    // ── G5: Pearson correlation from exact decimal moment sums. The six
    //    sums (n, Σx, Σy, Σx², Σy², Σxy) accumulate in DECIMAL — exact,
    //    partition-order independent, one map-side-partial shuffle — and
    //    the closed-form corr is evaluated in double from those exact
    //    inputs, so both engines compute identical IEEE arithmetic.
    //    (Built-in corr() streams doubles → partition-order dependent;
    //    this formulation is the reproducible twin of the same moment
    //    math.) One (18,6) operand is widened to (20,6) so the product
    //    runs at 128-bit width on both engines.
    Query("g5_corr_moments", (s, dir) => {
      val dx = col("l_quantity").cast("decimal(18,6)")
      val dy = col("l_extendedprice").cast("decimal(18,6)")
      val dx20 = col("l_quantity").cast("decimal(20,6)")
      val dy20 = col("l_extendedprice").cast("decimal(20,6)")
      val sums = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag").as("rf"))
        .agg(
          count(lit(1)).cast("double").as("n"),
          sum(dx).cast("double").as("sx"),
          sum(dy).cast("double").as("sy"),
          sum(dx20 * dx).cast("double").as("sxx"),
          sum(dy20 * dy).cast("double").as("syy"),
          sum(dx20 * dy).cast("double").as("sxy"))
      sums.select(
        col("rf"),
        col("n").cast("long").as("n"),
        round(
          (col("n") * col("sxy") - col("sx") * col("sy")) /
            (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
              sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 6)
          .as("corr_qty_price"))
        .orderBy("rf")
    },
      """WITH sums AS (
        |  SELECT l_returnflag AS rf,
        |    CAST(COUNT(*) AS DOUBLE) AS n,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))
        |             * CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,6))
        |             * CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS syy,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))
        |             * CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sxy
        |  FROM lineitem GROUP BY 1)
        |SELECT rf, CAST(n AS BIGINT) AS n,
        |  round((n*sxy - sx*sy)
        |        / (sqrt(n*sxx - sx*sx) * sqrt(n*syy - sy*sy)), 6)
        |    AS corr_qty_price
        |FROM sums ORDER BY rf""".stripMargin),

    // ── G6: exact discrete quantiles per group (p25/p50/p75 of
    //    extendedprice per returnflag) — actual data elements at rank
    //    ⌈p·n⌉, no interpolation (see Relational.exactQuantiles; the
    //    at-scale approximate twin is g3-style approx_percentile).
    //    materialize=true is the LOCAL-bench choice (r10 G6Probe A/B,
    //    `git show d7412f5:src/main/scala/graft/tools/G6Probe.scala`:
    //    min wall 1.97 s vs 2.71 s rescan at sf0.1, ties at 10×,
    //    crosses over only by 26× where the checkpoint write starts to
    //    track n); the operator default stays rescan — the cluster
    //    path (SCALE.md receipt).
    Query("g6_quantiles_exact", (s, dir) => {
      graft.operators.Relational.exactQuantiles(
        t(s, dir, "lineitem"),
        col("l_returnflag"), col("l_extendedprice"),
        Seq(0.25, 0.50, 0.75), materialize = true)
        .withColumnRenamed("group_key", "rf")
        .orderBy("rf")
    },
      """WITH r AS (
        |  SELECT l_returnflag AS rf, l_extendedprice AS v,
        |    ROW_NUMBER() OVER (PARTITION BY l_returnflag
        |                       ORDER BY l_extendedprice) AS rn,
        |    COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem)
        |SELECT rf,
        |  MAX(CASE WHEN rn = CAST(ceil(0.25*n) AS BIGINT) THEN v END) AS p25,
        |  MAX(CASE WHEN rn = CAST(ceil(0.5*n) AS BIGINT) THEN v END) AS p50,
        |  MAX(CASE WHEN rn = CAST(ceil(0.75*n) AS BIGINT) THEN v END) AS p75
        |FROM r GROUP BY rf ORDER BY rf""".stripMargin),

    // ── G9: approximate quantiles — the SCALE path for g6 (the exact
    //    formulation needs a per-group global sort; percentile_approx
    //    merges bounded sketches map-side, one tiny shuffle regardless
    //    of data size), ORACLED as a rank-error certificate: sketch
    //    values are engine-specific, but "the returned value's rank sits
    //    within (p ± 0.001)·n" is deterministic and oracle-stateable
    //    (accuracy 10000 guarantees ±1e-4·n; the certificate allows
    //    10×). Rank of a value with duplicates is the interval
    //    [count(v<q)+1, count(v<=q)] — the check is interval overlap.
    //    SparkEntrySpec additionally bounds the values against g6.
    Query("g9_approx_quantiles", (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag").as("rf"), col("l_extendedprice").as("v"))
      val approx = li.groupBy("rf")
        .agg(percentile_approx(
          col("v"), array(lit(0.25), lit(0.5), lit(0.75)), lit(10000)).as("qs"))
      val eps = 0.001
      def okAt(i: Int, p: Double) = {
        val q = element_at(col("qs"), i)
        val lo = sum(when(col("v") < q, 1L).otherwise(0L)) + lit(1L)
        val hi = sum(when(col("v") <= q, 1L).otherwise(0L))
        (lo.cast("double") <= (lit(p) + lit(eps)) * count(lit(1)) &&
          hi.cast("double") >= (lit(p) - lit(eps)) * count(lit(1)))
          .as(s"p${(p * 100).toInt}_ok")
      }
      li.join(broadcast(approx), Seq("rf"))
        .groupBy("rf")
        .agg(okAt(1, 0.25), okAt(2, 0.50), okAt(3, 0.75))
        .orderBy("rf")
    },
      // rank-error certificate: the oracle states that each approximate
      // quantile's rank interval overlapped (p ± 0.001)·n
      """SELECT l_returnflag AS rf,
        |       CAST(1 AS BOOLEAN) AS p25_ok,
        |       CAST(1 AS BOOLEAN) AS p50_ok,
        |       CAST(1 AS BOOLEAN) AS p75_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY rf""".stripMargin),

    // ── F1: scalar string functions (upper/substr/lpad/length/concat).
    Query("f1_string_funcs", (s, dir) => {
      t(s, dir, "part")
        .select(
          col("p_partkey"),
          upper(col("p_brand")).as("brand_uc"),
          substring(col("p_name"), 1, 8).as("name_prefix"),
          lpad(col("p_partkey").cast("string"), 8, "0").as("key_padded"),
          length(col("p_name")).cast("long").as("name_len"),
          concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"))
        .orderBy("p_partkey")
        .limit(2000)
    },
      """SELECT p_partkey, upper(p_brand) AS brand_uc,
        |       substr(p_name, 1, 8) AS name_prefix,
        |       lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS key_padded,
        |       CAST(length(p_name) AS BIGINT) AS name_len,
        |       concat_ws('|', p_brand, p_type) AS brand_type
        |FROM part ORDER BY p_partkey LIMIT 2000""".stripMargin),

    // ── D1: date part extraction + arithmetic (year/quarter/month/day,
    //    +30 days). dayofweek is omitted: Spark counts 1=Sunday, DuckDB
    //    0=Sunday — a genuine cross-engine divergence.
    Query("d1_date_parts", (s, dir) => {
      t(s, dir, "orders")
        .select(
          col("o_orderkey"),
          year(col("o_orderdate")).cast("long").as("y"),
          quarter(col("o_orderdate")).cast("long").as("q"),
          month(col("o_orderdate")).cast("long").as("m"),
          dayofmonth(col("o_orderdate")).cast("long").as("d"),
          date_format(date_add(col("o_orderdate"), 30), "yyyy-MM-dd").as("plus30"))
        .orderBy("o_orderkey")
        .limit(2000)
    },
      """SELECT o_orderkey,
        |       CAST(year(o_orderdate) AS BIGINT) AS y,
        |       CAST(quarter(o_orderdate) AS BIGINT) AS q,
        |       CAST(month(o_orderdate) AS BIGINT) AS m,
        |       CAST(day(o_orderdate) AS BIGINT) AS d,
        |       strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS plus30
        |FROM orders ORDER BY o_orderkey LIMIT 2000""".stripMargin),

    // ── S1/S2: set operations (capability; SURVEY §2.C "none in ref").
    Query("s1_intersect", (s, dir) => {
      val c = t(s, dir, "customer").select(col("c_nationkey").cast("long").as("nationkey"))
      val sup = t(s, dir, "supplier").select(col("s_nationkey").cast("long").as("nationkey"))
      c.intersect(sup).orderBy("nationkey")
    },
      """SELECT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer
        |INTERSECT
        |SELECT CAST(s_nationkey AS BIGINT) AS nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin),

    Query("s2_except", (s, dir) => {
      val n = t(s, dir, "nation").select(col("n_nationkey").cast("long").as("nationkey"))
      val sup = t(s, dir, "supplier").select(col("s_nationkey").cast("long").as("nationkey"))
      n.except(sup).orderBy("nationkey")
    },
      """SELECT CAST(n_nationkey AS BIGINT) AS nationkey FROM nation
        |EXCEPT
        |SELECT CAST(s_nationkey AS BIGINT) AS nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin)
  )
}
