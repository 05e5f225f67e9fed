package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.{Relational, Scd}
import graft.queries.Query._

/** Slowly changing dimensions: SCD2 rebuilds and incremental
  * maintenance, point-in-time reads, snapshot diffs and MERGE upserts. */
object ScdQueries {

  /** The change runs of each user's event_type in (ts, event_id) order:
    * a row starts a run when it differs from the row before (`runs`). */
  private val Scd2RunsSql: String =
    """WITH o AS (
      |  SELECT user_id, event_id, ts, event_type,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS prev
      |  FROM events),
      |runs AS (
      |  SELECT user_id, ts, event_id, event_type FROM o
      |  WHERE prev IS NULL OR prev <> event_type),""".stripMargin

  /** Shared by ext_scd2 (direct) and ext_scd2_incremental (whose
    * correctness claim is exactly "incremental == full rebuild"). */
  private val Scd2FullRebuildOracle: String =
    s"""$Scd2RunsSql
      |v AS (
      |  SELECT user_id,
      |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS version,
      |    event_type,
      |    strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
      |    strftime(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
      |             '%Y-%m-%d %H:%M:%S') AS valid_to
      |  FROM runs)
      |SELECT user_id, CAST(version AS BIGINT) AS version, event_type,
      |       valid_from, valid_to, valid_to IS NULL AS is_current
      |FROM v ORDER BY user_id, version""".stripMargin

  def all: Seq[Query] = Seq(
    // ── Snapshot merge (SCD1 upsert): a delta of updated (keys ≡ 0
    //    mod 7, +5% price) and inserted (shifted-key) orders merges
    //    into the base snapshot via ONE full-outer join —
    //    Relational.upsert.
    Query("ext_merge_upsert", (s, dir) => {
      val base = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val updates = base.filter(pmod(col("o_orderkey"), lit(7L)) === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 1.05)
      val inserts = base.filter(pmod(col("o_orderkey"), lit(13L)) === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 100000000L)
      Relational.upsert(base, updates.unionByName(inserts), Seq("o_orderkey"))
        .orderBy("o_orderkey")
    },
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
        |delta AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice * 1.05 AS o_totalprice
        |  FROM base WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, o_custkey, o_totalprice
        |  FROM base WHERE o_orderkey % 13 = 0)
        |SELECT COALESCE(d.o_orderkey, b.o_orderkey) AS o_orderkey,
        |       COALESCE(d.o_custkey, b.o_custkey) AS o_custkey,
        |       CASE WHEN d.o_orderkey IS NOT NULL THEN d.o_totalprice
        |            ELSE b.o_totalprice END AS o_totalprice
        |FROM base b FULL JOIN delta d ON b.o_orderkey = d.o_orderkey
        |ORDER BY o_orderkey""".stripMargin),

    // ── Two-snapshot table diff — [EXT r12]: the backfill
    //    reconciliation readout; planted removals (key%1000=0), price
    //    changes (key%7=0), and additions (key%500=0, shifted ids)
    //    against the orders snapshot, classified from one key-keyed
    //    full-outer join of md5 digests (Scd.snapshotDiff scaladoc).
    Query("ext_snapshot_diff", (s, dir) => {
      val o = t(s, dir, "orders").select(
        col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice"), 2).cast("decimal(18,2)").as("price"))
      val changed = o
        .filter(pmod(col("o_orderkey"), lit(1000)) =!= 0)
        .withColumn("price",
          when(pmod(col("o_orderkey"), lit(7)) === 0, col("price") + 1)
            .otherwise(col("price")).cast("decimal(18,2)"))
      val added = o.filter(pmod(col("o_orderkey"), lit(500)) === 0)
        .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
          col("o_orderstatus"), col("price"))
      Scd.snapshotDiff(o, changed.unionByName(added), "o_orderkey",
        Seq("o_orderstatus", "price"))
    },
      // Snapshot-diff replay: the same planted removals/changes/additions
      // rebuilt in a CTE, chr(31)-separated chr(1)-sentineled md5 digests
      // per side, full-outer classification, 4-type literal spine.
      """WITH o AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS st,
        |    CAST(round(o_totalprice, 2) AS DECIMAL(18,2)) AS price
        |  FROM orders),
        |nw AS (
        |  SELECT k, st,
        |    CAST(CASE WHEN k % 7 = 0 THEN price + 1 ELSE price END
        |      AS DECIMAL(18,2)) AS price
        |  FROM o WHERE k % 1000 <> 0
        |  UNION ALL
        |  SELECT k + 100000000, st, price FROM o WHERE k % 500 = 0),
        |fo AS (
        |  SELECT k, md5(concat_ws(chr(31),
        |    coalesce(CAST(st AS VARCHAR), chr(1)),
        |    coalesce(CAST(price AS VARCHAR), chr(1)))) AS fp FROM o),
        |fn AS (
        |  SELECT k, md5(concat_ws(chr(31),
        |    coalesce(CAST(st AS VARCHAR), chr(1)),
        |    coalesce(CAST(price AS VARCHAR), chr(1)))) AS fp FROM nw),
        |j AS (
        |  SELECT COALESCE(fo.k, fn.k) AS k,
        |    CASE WHEN fo.fp IS NULL THEN 'added'
        |      WHEN fn.fp IS NULL THEN 'removed'
        |      WHEN fo.fp <> fn.fp THEN 'changed'
        |      ELSE 'unchanged' END AS change_type
        |  FROM fo FULL OUTER JOIN fn ON fo.k = fn.k),
        |ag AS (
        |  SELECT change_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    MIN(k) AS min_key
        |  FROM j GROUP BY 1),
        |sp AS (SELECT unnest(['added','changed','removed','unchanged'])
        |       AS change_type)
        |SELECT sp.change_type, COALESCE(ag.n, 0) AS n, ag.min_key
        |FROM sp LEFT JOIN ag USING (change_type)
        |ORDER BY change_type""".stripMargin),

    // ── SCD Type-2 history build from the events change-log: per-user
    //    run-length-collapsed event_type versions with [valid_from,
    //    valid_to) intervals (Scd.scd2 scaladoc — windows partition by
    //    the high-cardinality entity key only).
    Query("ext_scd2", (s, dir) =>
      Scd.scd2(
        t(s, dir, "events"),
        entity = col("user_id"),
        changeTime = col("ts"),
        orderBy = Seq(col("ts"), col("event_id")),
        attr = col("event_type"))
        .select(
          col("entity_key").as("user_id"),
          col("version").cast("long").as("version"),
          col("attr_value").as("event_type"),
          date_format(col("valid_from"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
          date_format(col("valid_to"), "yyyy-MM-dd HH:mm:ss").as("valid_to"),
          col("is_current"))
        .orderBy("user_id", "version"),
      Scd2FullRebuildOracle),

    // ── Incremental SCD2 maintenance: pre-cutoff events build the
    //    history, post-cutoff events fold in via Scd.scd2Apply —
    //    untouched entities pass through, touched ones re-collapse from
    //    their own history rows. The oracle is the FULL rebuild, so a
    //    green row proves incremental == rebuild (Scd.scd2Apply
    //    scaladoc for the strictly-after contract).
    Query("ext_scd2_incremental", (s, dir) => {
      val e = t(s, dir, "events")
      val cutoff = lit("2024-01-23 00:00:00").cast("timestamp")
      val hist = Scd.scd2(e.filter(col("ts") <= cutoff),
        col("user_id"), col("ts"), Seq(col("ts"), col("event_id")),
        col("event_type"))
      Scd.scd2Apply(hist, e.filter(col("ts") > cutoff),
        col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .select(
          col("entity_key").as("user_id"),
          col("version").cast("long").as("version"),
          col("attr_value").as("event_type"),
          date_format(col("valid_from"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
          date_format(col("valid_to"), "yyyy-MM-dd HH:mm:ss").as("valid_to"),
          col("is_current"))
        .orderBy("user_id", "version")
    },
      // The incremental apply's oracle IS the full rebuild over every
      // event — a hash-green row is the proof that folding the post-
      // cutoff delta into the pre-cutoff history reproduces it exactly.
      Scd2FullRebuildOracle),

    // ── Point-in-time join: each event labeled with the SCD2 version
    //    valid at the event's own timestamp — the no-leakage temporal
    //    join (Scd.pointInTimeJoin scaladoc: equi-keyed on the entity,
    //    interval predicate as join filter, never a range nested-loop).
    Query("ext_scd2_pit", (s, dir) => {
      val e = t(s, dir, "events")
      val hist = Scd.scd2(e, col("user_id"), col("ts"),
        Seq(col("ts"), col("event_id")), col("event_type"))
      Scd.pointInTimeJoin(
        e.select(col("event_id"), col("user_id"), col("ts")),
        hist, col("user_id"), col("ts"))
        .select(col("event_id"), col("user_id"),
          col("version").cast("long").as("version"),
          col("attr_value").as("tier_at_event"))
        .orderBy("event_id")
    },
      // Same run-collapse as ext_scd2, then the interval join replayed
      // with the identical inclusive/exclusive bounds; zero-length
      // versions (equal-ts change pairs) correctly attract no facts.
      s"""$Scd2RunsSql
        |v AS (
        |  SELECT user_id,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS version,
        |    event_type, ts AS valid_from,
        |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS valid_to
        |  FROM runs)
        |SELECT e.event_id, e.user_id, CAST(v.version AS BIGINT) AS version,
        |       v.event_type AS tier_at_event
        |FROM events e LEFT JOIN v ON e.user_id = v.user_id
        |  AND v.valid_from <= e.ts AND (v.valid_to IS NULL OR v.valid_to > e.ts)
        |ORDER BY event_id""".stripMargin)
  )
}
