package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.Events
import graft.queries.Query._

/** Event analytics: windows, sessions, funnels, retention, survival
  * curves, attribution and anomaly scores. */
object EventQueries {

  /** The right-censored life table of ext_kaplan_meier and
    * ext_nelson_aalen: per user, days from the first event to the first
    * purchase over 200 (observed) or to the last event (censored); per
    * day, events, censorings and the number at risk (`lt`). */
  private val LifeTableSql: String =
    """WITH pu AS (
      |  SELECT user_id,
      |    MIN(CAST(ts AS DATE)) AS first_d,
      |    MAX(CAST(ts AS DATE)) AS last_d,
      |    MIN(CASE WHEN event_type = 'purchase' AND value > 200.0
      |      THEN CAST(ts AS DATE) END) AS event_d
      |  FROM events
      |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
      |  GROUP BY 1),
      |u AS (
      |  SELECT CASE WHEN event_d IS NOT NULL
      |      THEN datediff('day', first_d, event_d)
      |      ELSE datediff('day', first_d, last_d) END AS t_days,
      |    event_d IS NOT NULL AS observed
      |  FROM pu),
      |life AS (
      |  SELECT t_days,
      |    CAST(SUM(CASE WHEN observed THEN 1 ELSE 0 END) AS BIGINT)
      |      AS d_events,
      |    CAST(SUM(CASE WHEN observed THEN 0 ELSE 1 END) AS BIGINT)
      |      AS c_censored
      |  FROM u GROUP BY 1),
      |lt AS (
      |  SELECT t_days, d_events, c_censored,
      |    SUM(d_events + c_censored) OVER ()
      |      - COALESCE(SUM(d_events + c_censored) OVER (ORDER BY t_days
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS n_risk
      |  FROM life),""".stripMargin

  def all: Seq[Query] = Seq(
    // ── Tumbling-window aggregate (batch twin of the streaming op).
    Query("ext_event_tumbling", (s, dir) =>
      Events.tumblingAgg(t(s, dir, "events"), "hour")
        .orderBy("window_start", "event_type"),
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
        |       event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin),

    // ── Gap sessionization (30 min), per-user session stats.
    Query("ext_sessionize", (s, dir) =>
      Events.sessionStats(t(s, dir, "events"), gapMs = 1800000L),
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events),
        |f AS (
        |  SELECT user_id, ms, event_id,
        |    CASE WHEN lag(ms) OVER w IS NULL OR ms - lag(ms) OVER w > 1800000
        |         THEN 1 ELSE 0 END AS nf
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
        |g AS (
        |  SELECT user_id,
        |    SUM(nf) OVER (PARTITION BY user_id ORDER BY ms, event_id
        |                  ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM f),
        |s AS (SELECT user_id, sess, COUNT(*) AS cnt FROM g GROUP BY 1, 2)
        |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_sessions,
        |       CAST(MAX(cnt) AS BIGINT) AS longest_session,
        |       CAST(SUM(cnt) AS BIGINT) AS n_events
        |FROM s GROUP BY user_id ORDER BY user_id""".stripMargin),

    // ── RFM segmentation — [EXT r14]: recency/frequency/monetary
    //    quintiles over the user base (anchor-stable integer recency,
    //    exact decimal monetary, user_id tie-breaks in every NTILE)
    //    mapped to the classic action segments
    //    (Events.rfmSegments scaladoc).
    Query("ext_rfm_segments", (s, dir) =>
      Events.rfmSegments(t(s, dir, "events")),
      // RFM replay: same anchor-stable integer recency, exact decimal
      // monetary (coalesced to 0), three NTILE windows with the
      // identical user_id tie-breaks, the same segment CASE order.
      """WITH anch AS (SELECT MAX(epoch_ms(ts)) AS anchor_ms FROM events),
        |u AS (
        |  SELECT user_id,
        |    CAST((anchor_ms - MAX(epoch_ms(ts))) // 86400000 AS BIGINT)
        |      AS days_since,
        |    CAST(COUNT(*) AS BIGINT) AS n_events,
        |    COALESCE(SUM(CAST(round(CAST(value AS DOUBLE), 6)
        |      AS DECIMAL(18,6))), CAST(0 AS DECIMAL(18,6))) AS monetary
        |  FROM events CROSS JOIN anch
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY user_id, anchor_ms),
        |sc AS (
        |  SELECT *,
        |    CAST(ntile(5) OVER (ORDER BY days_since DESC, user_id)
        |      AS BIGINT) AS r_score,
        |    CAST(ntile(5) OVER (ORDER BY n_events ASC, user_id)
        |      AS BIGINT) AS f_score,
        |    CAST(ntile(5) OVER (ORDER BY monetary ASC, user_id)
        |      AS BIGINT) AS m_score
        |  FROM u)
        |SELECT user_id, days_since, n_events,
        |  CAST(monetary AS DOUBLE) AS monetary,
        |  r_score, f_score, m_score,
        |  CASE
        |    WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4
        |      THEN 'champion'
        |    WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk'
        |    WHEN r_score >= 4 AND f_score <= 2 THEN 'new_user'
        |    WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
        |    ELSE 'regular' END AS segment
        |FROM sc ORDER BY user_id""".stripMargin),

    // ── Per-type inter-arrival cadence — [EXT r14]: exact
    //    p50/p90/p99 floor-second gaps between consecutive events of
    //    each type; the feed-health baseline that moves before daily
    //    counts do (Events.interarrivalStats scaladoc).
    Query("ext_interarrival", (s, dir) =>
      Events.interarrivalStats(t(s, dir, "events")),
      // Inter-arrival replay: per-type lag over the (ts, event_id)
      // total order, floor-second gaps via integer division (the
      // engine's double-divide + cast-long truncates; gaps are >= 0 so
      // `//` is identical), then the g6 exact rank picks at
      // ceil(p * n) per type.
      """WITH e AS (
        |  SELECT event_type, event_id, ts, epoch_ms(ts) AS ms
        |  FROM events
        |  WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |    AND event_id IS NOT NULL),
        |g AS (
        |  SELECT event_type AS group_key,
        |    (ms - LAG(ms) OVER (PARTITION BY event_type
        |      ORDER BY ts, event_id)) // 1000 AS gap
        |  FROM e),
        |gg AS (SELECT group_key, gap FROM g WHERE gap IS NOT NULL),
        |rk AS (
        |  SELECT group_key, gap,
        |    ROW_NUMBER() OVER (PARTITION BY group_key ORDER BY gap)
        |      AS rn,
        |    COUNT(*) OVER (PARTITION BY group_key) AS n
        |  FROM gg)
        |SELECT group_key, CAST(MAX(n) AS BIGINT) AS n_gaps,
        |  CAST(MAX(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT)
        |    THEN gap END) AS BIGINT) AS p50,
        |  CAST(MAX(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT)
        |    THEN gap END) AS BIGINT) AS p90,
        |  CAST(MAX(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT)
        |    THEN gap END) AS BIGINT) AS p99
        |FROM rk GROUP BY group_key ORDER BY group_key""".stripMargin),

    // ── First-order Markov transition matrix over per-user event
    //    sequences — [EXT r14]: global row-normalized P(next|current)
    //    with the (ts, event_id) total tie-break; rows of P sum to 1,
    //    a user's last event emits no transition
    //    (Events.transitionMatrix scaladoc).
    Query("ext_markov_transitions", (s, dir) =>
      Events.transitionMatrix(t(s, dir, "events")),
      // Markov replay: the same (ts, event_id)-ordered per-user lead,
      // exact cell counts, windowed row totals, one IEEE divide.
      """WITH b AS (
        |  SELECT user_id, ts, event_id, event_type FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |    AND event_type IS NOT NULL),
        |p AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS to_type
        |  FROM b),
        |c AS (
        |  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n_ab
        |  FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n_ab,
        |  CAST(SUM(n_ab) OVER (PARTITION BY from_type) AS BIGINT)
        |    AS n_from,
        |  round(CAST(n_ab AS DOUBLE)
        |    / CAST(SUM(n_ab) OVER (PARTITION BY from_type) AS DOUBLE), 6)
        |    AS p
        |FROM c ORDER BY from_type, to_type""".stripMargin),

    // ── As-of join: latest click value at-or-before each purchase, per
    //    user. Spark side is the union+carry-forward composition
    //    (Events.asofJoin scaladoc); the oracle is DuckDB's NATIVE
    //    ASOF LEFT JOIN — two independent formulations, one answer.
    Query("ext_asof_join", (s, dir) => {
      val e = t(s, dir, "events")
        .withColumn("ms", unix_millis(col("ts")))
      val clicks = e.filter(col("event_type") === "click")
        .groupBy("user_id", "ms")
        .agg(max_by(col("value"), col("event_id")).as("click_value"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ms"))
      Events.asofJoin(purchases, clicks, "event_id", "user_id", "ms", "click_value")
        .select(col("event_id"), col("user_id"), col("click_value"))
        .orderBy("event_id")
    },
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_ms(ts) AS ms, event_type, value
        |  FROM events),
        |c AS (
        |  SELECT user_id, ms, max_by(value, event_id) AS click_value
        |  FROM e WHERE event_type = 'click' GROUP BY 1, 2),
        |p AS (
        |  SELECT event_id, user_id, ms FROM e WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, c.click_value
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.user_id AND p.ms >= c.ms
        |ORDER BY p.event_id""".stripMargin),

    // ── Conversion lag — [EXT r13]: first-click→first-purchase delay
    //    per user, exact p50/p90/p99 over converted users — the
    //    latency half of the funnel (Events.conversionLag scaladoc).
    Query("ext_conversion_lag", (s, dir) =>
      Events.conversionLag(t(s, dir, "events")),
      // Conversion-lag replay: per-user first click/purchase, floor-
      // second lag integers, rank-pick quantiles; LEFT JOIN ON TRUE keeps
      // the counts row when nobody converts.
      """WITH per AS (
        |  SELECT user_id,
        |    MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_from,
        |    MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_to
        |  FROM events GROUP BY 1),
        |base AS (SELECT * FROM per WHERE t_from IS NOT NULL),
        |conv AS (
        |  SELECT CAST(epoch(date_trunc('second', t_to)) AS BIGINT)
        |       - CAST(epoch(date_trunc('second', t_from)) AS BIGINT) AS lag_s
        |  FROM base WHERE t_to IS NOT NULL
        |    AND CAST(epoch(date_trunc('second', t_to)) AS BIGINT)
        |     >= CAST(epoch(date_trunc('second', t_from)) AS BIGINT)),
        |counts AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_from_users,
        |    CAST(SUM(CASE WHEN t_to IS NOT NULL
        |      AND CAST(epoch(date_trunc('second', t_to)) AS BIGINT)
        |       >= CAST(epoch(date_trunc('second', t_from)) AS BIGINT)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_converted
        |  FROM base),
        |rq AS (
        |  SELECT lag_s, ROW_NUMBER() OVER (ORDER BY lag_s) AS rn,
        |    COUNT(*) OVER () AS n
        |  FROM conv),
        |q AS (
        |  SELECT
        |    MAX(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT)
        |      THEN lag_s END) AS p50_lag_s,
        |    MAX(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT)
        |      THEN lag_s END) AS p90_lag_s,
        |    MAX(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT)
        |      THEN lag_s END) AS p99_lag_s
        |  FROM rq HAVING COUNT(*) > 0)
        |SELECT c.n_from_users, c.n_converted,
        |  q.p50_lag_s, q.p90_lag_s, q.p99_lag_s
        |FROM counts c LEFT JOIN q ON TRUE""".stripMargin),

    // ── Top-k per group via ranked window.
    Query("ext_topk_per_group", (s, dir) => {
      Events.topKPerGroup(
        t(s, dir, "events"), col("event_type"),
        Seq(col("value").desc, col("event_id")), 3)
        .select(col("event_type"), col("event_id"), col("value"),
          col("rn").cast("long").as("rank"))
        .orderBy("event_type", "rank")
    },
      """SELECT event_type, event_id, value, CAST(rn AS BIGINT) AS rank FROM (
        |  SELECT event_type, event_id, value,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |                       ORDER BY value DESC, event_id) AS rn
        |  FROM events) WHERE rn <= 3 ORDER BY event_type, rank""".stripMargin),

    // ── Deterministic stratified sample: 10 rows per returnflag stratum,
    //    chosen by rank over an integer mixing hash of the row key —
    //    reproducible on any engine (no RNG), integer-only arithmetic
    //    inside 63 bits (ANSI-safe). Sampling IS top-k per group over the
    //    hash, so it reuses the ranked-window operator: one shuffle on
    //    the stratum key, no global sort. The scale story for "sample my
    //    100 TB corpus deterministically" with per-stratum quotas.
    Query("ext_stratified_sample", (s, dir) => {
      // fold the key into the modulus BEFORE the Knuth multiply: raw
      // l_orderkey * 2654435761 overflows Long (ANSI error) once keys
      // pass ~3.5e9 — caught by the 10× replica's shifted key space
      val h = pmod(
        pmod(col("l_orderkey"), lit(1000000007L)) * lit(2654435761L)
          + col("l_linenumber") * lit(40503L),
        lit(1000000007L))
      Events.topKPerGroup(
        t(s, dir, "lineitem").withColumn("hv", h),
        col("l_returnflag"),
        Seq(col("hv").asc, col("l_orderkey").asc, col("l_linenumber").asc), 10)
        .select(col("l_returnflag").as("rf"), col("rn").cast("long").as("rank"),
          col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"))
        .orderBy("rf", "rank")
    },
      """WITH h AS (
        |  SELECT l_returnflag AS rf, l_orderkey, l_linenumber,
        |    ((l_orderkey % 1000000007) * 2654435761
        |     + l_linenumber * 40503) % 1000000007 AS hv
        |  FROM lineitem),
        |r AS (
        |  SELECT rf, l_orderkey, l_linenumber,
        |    ROW_NUMBER() OVER (PARTITION BY rf
        |      ORDER BY hv, l_orderkey, l_linenumber) AS rank
        |  FROM h)
        |SELECT rf, CAST(rank AS BIGINT) AS rank, l_orderkey,
        |       CAST(l_linenumber AS BIGINT) AS l_linenumber
        |FROM r WHERE rank <= 10 ORDER BY rf, rank""".stripMargin),

    // ── Sliding (hopping) event windows: 1 h windows every 30 min —
    //    Events.slidingAgg; each event fans out map-side into exactly
    //    size/slide = 2 windows before the one aggregate shuffle.
    Query("ext_event_sliding", (s, dir) =>
      Events.slidingAgg(t(s, dir, "events"), sizeSec = 3600, slideSec = 1800)
        .orderBy("window_start", "event_type"),
      // windows containing t start at (t div 1800 - k) * 1800, k in {0,1}
      // — the closed form of Spark's window(ts, '3600s', '1800s') fan-out
      """WITH e AS (
        |  SELECT epoch_ms(ts) // 1000 AS es, event_type, value FROM events),
        |x AS (
        |  SELECT strftime(make_timestamp((((es // 1800) - k) * 1800) * 1000000),
        |           '%Y-%m-%d %H:%M:%S') AS window_start,
        |         event_type, value
        |  FROM e CROSS JOIN (SELECT unnest([0, 1]) AS k) t)
        |SELECT window_start, event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // ── Time-series resample + gap fill: hourly per-user buckets with
    //    empty buckets emitted (n = 0) and last observed total carried
    //    forward — Events.resampleFill; spine via sequence()+explode,
    //    never a driver loop.
    Query("ext_resample_fill", (s, dir) => {
      Events.resampleFill(t(s, dir, "events"), bucketSec = 3600L)
        .orderBy("user_id", "bucket_start")
    },
      """WITH b AS (
        |  SELECT user_id, epoch_ms(ts) // 1000 // 3600 AS h, value FROM events),
        |agg AS (
        |  SELECT user_id, h, CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS tv
        |  FROM b GROUP BY 1, 2),
        |spine AS (
        |  SELECT user_id, unnest(range(mn, mx + 1)) AS h
        |  FROM (SELECT user_id, MIN(h) AS mn, MAX(h) AS mx FROM agg GROUP BY 1)),
        |j AS (
        |  SELECT s.user_id, s.h, COALESCE(a.n, 0) AS n, a.tv AS tv
        |  FROM spine s LEFT JOIN agg a ON s.user_id = a.user_id AND s.h = a.h)
        |SELECT user_id,
        |       strftime(make_timestamp(h * 3600 * 1000000),
        |                '%Y-%m-%d %H:%M:%S') AS bucket_start,
        |       n, COALESCE(tv, 0.0) AS total_value,
        |       last_value(tv IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY h
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
        |FROM j ORDER BY user_id, bucket_start""".stripMargin),

    // ── Cohort retention triangle: first-activity-day cohorts × day
    //    offsets, distinct active users per cell — Events.retention;
    //    cohort day is a window min, never a first-day self-join.
    Query("ext_retention", (s, dir) =>
      Events.retention(t(s, dir, "events")),
      """WITH e AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d FROM events),
        |f AS (
        |  SELECT user_id, d,
        |    min(d) OVER (PARTITION BY user_id) AS cohort
        |  FROM e)
        |SELECT strftime(cohort, '%Y-%m-%d') AS cohort_day,
        |       CAST(d - cohort AS BIGINT) AS day_offset,
        |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active
        |FROM f GROUP BY cohort, d - cohort
        |ORDER BY cohort_day, day_offset""".stripMargin),

    // ── Per-day activity concentration — [EXT r14]: HHI / effective
    //    user count / top share of daily volume — the bot-day gate a
    //    plain count can't see; DECIMAL(19,0) squares (the
    //    mannWhitney overflow rule) (Events.activityConcentration
    //    scaladoc).
    Query("ext_activity_concentration", (s, dir) =>
      Events.activityConcentration(t(s, dir, "events")),
      // Concentration replay: same (day, user) collapse, DECIMAL(19,0)
      // squares, the three IEEE readout divides.
      """WITH pu AS (
        |  SELECT epoch_ms(date_trunc('day', ts)) // 86400000 AS di,
        |    user_id, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1, 2),
        |g AS (
        |  SELECT di, CAST(SUM(c) AS BIGINT) AS n_events,
        |    CAST(COUNT(*) AS BIGINT) AS n_users,
        |    CAST(MAX(c) AS BIGINT) AS top_c,
        |    SUM(CAST(c AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0))) AS sq
        |  FROM pu GROUP BY 1)
        |SELECT di, n_events, n_users,
        |  round(CAST(top_c AS DOUBLE) / CAST(n_events AS DOUBLE), 6)
        |    AS top_share,
        |  round(CAST(sq AS DOUBLE) / (CAST(n_events AS DOUBLE)
        |    * CAST(n_events AS DOUBLE)), 6) AS hhi,
        |  round(CAST(n_events AS DOUBLE) * CAST(n_events AS DOUBLE)
        |    / CAST(sq AS DOUBLE), 6) AS eff_users
        |FROM g ORDER BY di""".stripMargin),

    // ── Kneedle knee of the user rank-coverage curve — [EXT r14]:
    //    the principled "core users" cutoff (argmax of cum_share −
    //    rank share, earliest-rank ties) (Events.activityKnee
    //    scaladoc).
    Query("ext_activity_knee", (s, dir) =>
      Events.activityKnee(t(s, dir, "events")),
      // Knee replay: the same ranked cumulative curve, the identical
      // gap chain, earliest-rank argmax.
      """WITH u AS (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |r AS (
        |  SELECT c, user_id,
        |    ROW_NUMBER() OVER (ORDER BY c DESC, user_id) AS r,
        |    COUNT(*) OVER () AS u_cnt,
        |    SUM(c) OVER () AS n_tot,
        |    SUM(c) OVER (ORDER BY c DESC, user_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM u),
        |g AS (
        |  SELECT *, CAST(cum AS DOUBLE) / CAST(n_tot AS DOUBLE)
        |    - CAST(r AS DOUBLE) / CAST(u_cnt AS DOUBLE) AS gap
        |  FROM r)
        |SELECT CAST(u_cnt AS BIGINT) AS n_users,
        |  CAST(n_tot AS BIGINT) AS n_events,
        |  CAST(r AS BIGINT) AS knee_rank,
        |  round(CAST(r AS DOUBLE) / CAST(u_cnt AS DOUBLE), 6)
        |    AS knee_user_pct,
        |  round(CAST(cum AS DOUBLE) / CAST(n_tot AS DOUBLE), 6)
        |    AS knee_cum_share,
        |  round(gap, 6) AS max_gap
        |FROM g ORDER BY gap DESC, r LIMIT 1""".stripMargin),

    // ── Cohort LTV triangle — [EXT r14]: retention's revenue twin;
    //    per-offset revenue and cumulative value per COHORT MEMBER
    //    (churned members drag the average — the point), exact
    //    decimal accumulation end-to-end (Events.cohortLtv scaladoc).
    Query("ext_cohort_ltv", (s, dir) =>
      Events.cohortLtv(t(s, dir, "events")),
      // Cohort-LTV replay: the retention cohort window, exact decimal
      // revenue, the same cumulative fold and per-member divide.
      """WITH b AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d,
        |    COALESCE(CAST(round(CAST(value AS DOUBLE), 6)
        |      AS DECIMAL(18,6)), CAST(0 AS DECIMAL(18,6))) AS v
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |c AS (
        |  SELECT *, MIN(d) OVER (PARTITION BY user_id) AS cohort FROM b),
        |sizes AS (
        |  SELECT strftime(cohort, '%Y-%m-%d') AS cohort_day,
        |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS cohort_size
        |  FROM c GROUP BY 1),
        |cells AS (
        |  SELECT strftime(cohort, '%Y-%m-%d') AS cohort_day,
        |    CAST(d - cohort AS BIGINT) AS day_offset,
        |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active,
        |    SUM(v) AS rev
        |  FROM c GROUP BY 1, 2),
        |w AS (
        |  SELECT *, SUM(rev) OVER (PARTITION BY cohort_day
        |    ORDER BY day_offset
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rev
        |  FROM cells JOIN sizes USING (cohort_day))
        |SELECT cohort_day, day_offset, cohort_size, n_active,
        |  CAST(rev AS DOUBLE) AS revenue,
        |  round(CAST(cum_rev AS DOUBLE) / CAST(cohort_size AS DOUBLE), 6)
        |    AS cum_ltv
        |FROM w ORDER BY cohort_day, day_offset""".stripMargin),

    // ── Longest consecutive-day activity streaks per user —
    //    [EXT r14]: gaps-and-islands over the distinct (user, day)
    //    collapse; longest + the streak ending at last-seen, all
    //    integers (Events.activityStreaks scaladoc).
    Query("ext_activity_streaks", (s, dir) =>
      Events.activityStreaks(t(s, dir, "events")),
      // Streaks replay: the same distinct user-day collapse and the
      // di − row_number() island key, exact integer rollups.
      """WITH ud AS (
        |  SELECT DISTINCT user_id,
        |    epoch_ms(date_trunc('day', ts)) // 86400000 AS di
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |isl AS (
        |  SELECT user_id, di,
        |    di - row_number() OVER (PARTITION BY user_id ORDER BY di)
        |      AS island
        |  FROM ud),
        |g AS (
        |  SELECT user_id, island, CAST(COUNT(*) AS BIGINT) AS len,
        |    MAX(di) AS last_di
        |  FROM isl GROUP BY 1, 2),
        |g2 AS (
        |  SELECT *, MAX(last_di) OVER (PARTITION BY user_id) AS user_last
        |  FROM g)
        |SELECT user_id,
        |  CAST(SUM(len) AS BIGINT) AS n_active_days,
        |  CAST(COUNT(*) AS BIGINT) AS n_streaks,
        |  CAST(MAX(len) AS BIGINT) AS longest_streak,
        |  CAST(MAX(CASE WHEN last_di = user_last THEN len END) AS BIGINT)
        |    AS ending_streak
        |FROM g2 GROUP BY 1 ORDER BY 1""".stripMargin),

    // ── Daily growth accounting — [EXT r14]: active = new + retained
    //    + resurrected and Δactive = new + resurrected − churned hold
    //    row-by-row; churn read from the SAME per-user lag, never an
    //    anti-join of snapshots (Events.growthAccounting scaladoc).
    Query("ext_growth_accounting", (s, dir) =>
      Events.growthAccounting(t(s, dir, "events")),
      // Growth-accounting replay: the same per-user lag/lead reads,
      // day-keyed exact counts, spine-joined with zero fills.
      """WITH ud AS (
        |  SELECT DISTINCT user_id,
        |    epoch_ms(date_trunc('day', ts)) // 86400000 AS di
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |l AS (
        |  SELECT user_id, di,
        |    lag(di) OVER (PARTITION BY user_id ORDER BY di) AS prev_di,
        |    lead(di) OVER (PARTITION BY user_id ORDER BY di) AS next_di
        |  FROM ud),
        |infl AS (
        |  SELECT di, CAST(COUNT(*) AS BIGINT) AS n_active,
        |    CAST(SUM(CASE WHEN prev_di IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_new,
        |    CAST(SUM(CASE WHEN prev_di = di - 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_retained,
        |    CAST(SUM(CASE WHEN prev_di IS NOT NULL AND prev_di < di - 1
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
        |  FROM l GROUP BY 1),
        |ch AS (
        |  SELECT di + 1 AS di, CAST(COUNT(*) AS BIGINT) AS n_churned
        |  FROM l WHERE next_di IS NULL OR next_di > di + 1
        |  GROUP BY 1),
        |sp AS (
        |  SELECT unnest(range((SELECT MIN(di) FROM ud),
        |    (SELECT MAX(di) FROM ud) + 1)) AS di)
        |SELECT sp.di,
        |  CAST(COALESCE(n_active, 0) AS BIGINT) AS n_active,
        |  CAST(COALESCE(n_new, 0) AS BIGINT) AS n_new,
        |  CAST(COALESCE(n_retained, 0) AS BIGINT) AS n_retained,
        |  CAST(COALESCE(n_resurrected, 0) AS BIGINT) AS n_resurrected,
        |  CAST(COALESCE(n_churned, 0) AS BIGINT) AS n_churned
        |FROM sp LEFT JOIN infl USING (di) LEFT JOIN ch USING (di)
        |ORDER BY di""".stripMargin),

    // ── DAU/WAU/MAU + stickiness via the sweep-line sliding distinct
    //    — [EXT r14]: per-user coverage segments emit ±1 deltas, a
    //    running sum over the calendar spine IS the trailing distinct
    //    count — no window-DISTINCT, no spine×users range join
    //    (Events.stickiness scaladoc).
    Query("ext_stickiness", (s, dir) =>
      Events.stickiness(t(s, dir, "events")),
      // Stickiness replay: Events.stickiness's sweep line per reach —
      // per-user coverage segments (gap > reach starts a new one),
      // ±1 boundary deltas clipped at the range end, a running sum over
      // the day spine — generated once per (reach, name).
      {
        val base =
          """WITH ud AS (
            |  SELECT DISTINCT user_id,
            |    epoch_ms(date_trunc('day', ts)) // 86400000 AS di
            |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
            |sp AS (
            |  SELECT unnest(range((SELECT MIN(di) FROM ud),
            |    (SELECT MAX(di) FROM ud) + 1)) AS di)""".stripMargin
        val reaches = Seq((0, "dau"), (6, "wau"), (27, "mau"))
        val blocks = reaches.map { case (r, name) =>
          s""",
             |seg_$name AS (
             |  SELECT user_id, di, CASE WHEN di - lag(di)
             |      OVER (PARTITION BY user_id ORDER BY di) <= $r
             |    THEN 0 ELSE 1 END AS new_seg
             |  FROM ud),
             |sid_$name AS (
             |  SELECT user_id, di, SUM(new_seg) OVER (PARTITION BY user_id
             |    ORDER BY di ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |    AS seg_id
             |  FROM seg_$name),
             |gg_$name AS (
             |  SELECT user_id, seg_id, MIN(di) AS from_di, MAX(di) + $r AS to_di
             |  FROM sid_$name GROUP BY 1, 2),
             |dd_$name AS (
             |  SELECT di, SUM(d) AS dd FROM (
             |    SELECT from_di AS di, 1 AS d FROM gg_$name
             |    UNION ALL
             |    SELECT least(to_di, (SELECT MAX(di) FROM ud)) + 1, -1
             |    FROM gg_$name
             |    WHERE least(to_di, (SELECT MAX(di) FROM ud)) + 1
             |      <= (SELECT MAX(di) FROM ud)) u
             |  GROUP BY 1),
             |cum_$name AS (
             |  SELECT sp.di, CAST(SUM(COALESCE(dd, 0)) OVER (ORDER BY sp.di
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             |    AS $name
             |  FROM sp LEFT JOIN dd_$name USING (di))""".stripMargin
        }.mkString
        base + blocks +
          """
            |SELECT c0.di, c0.dau, c6.wau, c27.mau,
            |  round(CASE WHEN c27.mau > 0
            |    THEN CAST(c0.dau AS DOUBLE) / CAST(c27.mau AS DOUBLE) END, 6)
            |    AS stickiness
            |FROM cum_dau c0 JOIN cum_wau c6 USING (di)
            |JOIN cum_mau c27 USING (di)
            |ORDER BY di""".stripMargin
      }),

    // ── Kaplan–Meier time-to-first-high-value-purchase — [EXT r14]:
    //    product-limit survival with right-censoring at last-seen;
    //    never-converting users shape the curve instead of being
    //    dropped or miscounted as failures. Factors accumulate as
    //    DECIMAL(18,6)-quantized lns (the unigram-nll xsum discipline)
    //    (Events.kaplanMeier scaladoc).
    Query("ext_kaplan_meier", (s, dir) =>
      Events.kaplanMeier(
        t(s, dir, "events"),
        col("event_type") === "purchase" && col("value") > 200.0),
      // KM replay: same per-user collapse, life table, exact windowed
      // risk counts, DECIMAL(18,6)-quantized ln factors (the unigram-nll
      // xsum discipline), exp at the end.
      s"""$LifeTableSql
        |lt2 AS (
        |  SELECT *,
        |    CASE WHEN d_events < n_risk
        |      THEN CAST(ln(1.0 - CAST(d_events AS DOUBLE)
        |        / CAST(n_risk AS DOUBLE)) AS DECIMAL(18,6)) END AS ln_term,
        |    CASE WHEN d_events = n_risk THEN 1 ELSE 0 END AS dead
        |  FROM lt)
        |SELECT t_days, CAST(n_risk AS BIGINT) AS n_risk,
        |  d_events, c_censored,
        |  CASE WHEN MAX(dead) OVER (ORDER BY t_days
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
        |    THEN 0.0
        |    ELSE round(exp(CAST(COALESCE(
        |      SUM(ln_term) OVER (ORDER BY t_days
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |      CAST(0 AS DECIMAL(18,6))) AS DOUBLE)), 6) END AS s_km
        |FROM lt2 ORDER BY t_days""".stripMargin),

    // ── Nelson–Aalen cumulative hazard — [EXT r15]: the additive twin
    //    of ext_kaplan_meier over the same right-censored life table —
    //    hazard INCREMENTS as the readout, with the classical variance
    //    band (Events.nelsonAalen scaladoc).
    Query("ext_nelson_aalen", (s, dir) =>
      Events.nelsonAalen(
        t(s, dir, "events"),
        col("event_type") === "purchase" && col("value") > 200.0),
      // Nelson–Aalen replay: the KM life table, 6dp-quantized d/n and
      // d/n² increments, exact decimal cumulative sums.
      s"""$LifeTableSql
        |lt2 AS (
        |  SELECT *,
        |    CAST(CAST(d_events AS DOUBLE) / CAST(n_risk AS DOUBLE)
        |      AS DECIMAL(18,6)) AS h_term,
        |    CAST(CAST(d_events AS DOUBLE)
        |      / (CAST(n_risk AS DOUBLE) * CAST(n_risk AS DOUBLE))
        |      AS DECIMAL(18,6)) AS v_term
        |  FROM lt)
        |SELECT t_days, CAST(n_risk AS BIGINT) AS n_risk,
        |  d_events, c_censored,
        |  round(CAST(SUM(h_term) OVER (ORDER BY t_days
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS DOUBLE), 6) AS h_na,
        |  round(CAST(SUM(v_term) OVER (ORDER BY t_days
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS DOUBLE), 6) AS var_na
        |FROM lt2 ORDER BY t_days""".stripMargin),

    // ── Two-sample log-rank test — [EXT r15]: did the (hash-assigned)
    //    treatment arm reach the target FASTER under censoring — the
    //    survival counterpart of ext_ab_test's final-rate z; exact
    //    decimal (O−E) and V sums (Events.logrank scaladoc).
    Query("ext_logrank", (s, dir) =>
      Events.logrank(
        t(s, dir, "events"),
        treat = col("user_id") % 2 === 1,
        target = col("event_type") === "purchase" && col("value") > 200.0),
      // Log-rank replay: per-user collapse with the parity arm, pooled
      // life table with per-arm at-risk reverse cumsums, 6dp-quantized
      // (O−E) and hypergeometric-V terms, one final divide.
      """WITH pu AS (
        |  SELECT user_id,
        |    MIN(CAST(ts AS DATE)) AS first_d,
        |    MAX(CAST(ts AS DATE)) AS last_d,
        |    MIN(CASE WHEN event_type = 'purchase' AND value > 200.0
        |      THEN CAST(ts AS DATE) END) AS event_d,
        |    MAX(user_id % 2 = 1) AS g
        |  FROM events
        |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
        |  GROUP BY 1),
        |u AS (
        |  SELECT CASE WHEN event_d IS NOT NULL
        |      THEN datediff('day', first_d, event_d)
        |      ELSE datediff('day', first_d, last_d) END AS t_days,
        |    event_d IS NOT NULL AS observed, g
        |  FROM pu),
        |life AS (
        |  SELECT t_days,
        |    CAST(SUM(CASE WHEN observed AND g THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d1,
        |    CAST(SUM(CASE WHEN observed AND NOT g THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d0,
        |    CAST(SUM(CASE WHEN g THEN 1 ELSE 0 END) AS BIGINT) AS a1,
        |    CAST(SUM(CASE WHEN NOT g THEN 1 ELSE 0 END) AS BIGINT) AS a0
        |  FROM u GROUP BY 1),
        |st AS (
        |  SELECT *,
        |    SUM(a1) OVER () - COALESCE(SUM(a1) OVER (ORDER BY t_days
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n1,
        |    SUM(a0) OVER () - COALESCE(SUM(a0) OVER (ORDER BY t_days
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n0
        |  FROM life),
        |tm AS (
        |  SELECT *, n1 + n0 AS n, d1 + d0 AS d,
        |    CAST(n1 AS DOUBLE) / CAST(n1 + n0 AS DOUBLE) AS p1
        |  FROM st WHERE d1 + d0 > 0),
        |terms AS (
        |  SELECT
        |    CAST(CAST(d1 AS DOUBLE) - CAST(d AS DOUBLE) * p1
        |      AS DECIMAL(18,6)) AS ome,
        |    CASE WHEN n > 1 THEN CAST(CAST(d AS DOUBLE) * p1 * (1.0 - p1)
        |        * CAST(n - d AS DOUBLE) / CAST(n - 1 AS DOUBLE)
        |        AS DECIMAL(18,6))
        |      ELSE CAST(0 AS DECIMAL(18,6)) END AS v
        |  FROM tm),
        |tot AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN g THEN 1 ELSE 0 END) AS BIGINT) AS n_treat,
        |    CAST(SUM(CASE WHEN NOT g THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_control,
        |    CAST(SUM(CASE WHEN g AND observed THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d_treat,
        |    CAST(SUM(CASE WHEN NOT g AND observed THEN 1 ELSE 0 END)
        |      AS BIGINT) AS d_control
        |  FROM u),
        |sm AS (
        |  SELECT COALESCE(SUM(ome), CAST(0 AS DECIMAL(18,6))) AS ome,
        |    COALESCE(SUM(v), CAST(0 AS DECIMAL(18,6))) AS vs
        |  FROM terms)
        |SELECT n_treat, n_control, d_treat, d_control,
        |  round(CAST(ome AS DOUBLE), 6) AS o_minus_e,
        |  round(CAST(vs AS DOUBLE), 6) AS var_sum,
        |  CASE WHEN CAST(vs AS DOUBLE) > 0.0
        |    THEN round(CAST(ome AS DOUBLE) * CAST(ome AS DOUBLE)
        |      / CAST(vs AS DOUBLE), 6) END AS chi2,
        |  (CASE WHEN CAST(vs AS DOUBLE) > 0.0
        |    THEN round(CAST(ome AS DOUBLE) * CAST(ome AS DOUBLE)
        |      / CAST(vs AS DOUBLE), 6) END) > 3.841 AS significant
        |FROM tot CROSS JOIN sm""".stripMargin),

    // ── Ordered funnel: earliest view → click → purchase chain per
    //    user in ONE exchange (k full-partition window mins over
    //    user_id, sequential dependency riding the same partitioning) —
    //    Events.funnel.
    Query("ext_funnel", (s, dir) => {
      Events.funnel(t(s, dir, "events"), Seq("view", "click", "purchase"))
        .orderBy("user_id")
    },
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events),
        |s1 AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN ms END) AS t1_ms
        |  FROM e GROUP BY user_id),
        |s2 AS (
        |  SELECT e.user_id, s1.t1_ms,
        |    min(CASE WHEN e.event_type = 'click' AND e.ms > s1.t1_ms
        |             THEN e.ms END) AS t2_ms
        |  FROM e JOIN s1 USING (user_id)
        |  GROUP BY e.user_id, s1.t1_ms),
        |s3 AS (
        |  SELECT e.user_id, s2.t1_ms, s2.t2_ms,
        |    min(CASE WHEN e.event_type = 'purchase' AND e.ms > s2.t2_ms
        |             THEN e.ms END) AS t3_ms
        |  FROM e JOIN s2 USING (user_id)
        |  GROUP BY e.user_id, s2.t1_ms, s2.t2_ms)
        |SELECT user_id, t1_ms, t2_ms, t3_ms,
        |  CAST(CASE WHEN t1_ms IS NOT NULL THEN 1 ELSE 0 END
        |     + CASE WHEN t2_ms IS NOT NULL THEN 1 ELSE 0 END
        |     + CASE WHEN t3_ms IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
        |    AS steps_completed
        |FROM s3 ORDER BY user_id""".stripMargin),

    // ── Market-basket pair support: users-as-baskets, unordered
    //    event-type pairs by distinct-user co-support — the order-free
    //    complement of ext_event_ngrams (Events.basketPairs scaladoc).
    Query("ext_basket_pairs", (s, dir) =>
      Events.basketPairs(
        t(s, dir, "events"), col("user_id"), col("event_type")),
      // Independent formulation: stepwise conditional aggregation with
      // re-joins (vs the engine's single-exchange window chain) — two
      // different plans must land on one answer.
      // basket replay: distinct (user, type) → pair self-join → count —
      // all integers, same (support DESC, pair) top-k order.
      """WITH it AS (
        |  SELECT DISTINCT user_id AS b, event_type AS i FROM events)
        |SELECT a.i AS item_a, c.i AS item_b,
        |  CAST(COUNT(*) AS BIGINT) AS support
        |FROM it a JOIN it c ON a.b = c.b AND a.i < c.i
        |GROUP BY 1, 2 HAVING COUNT(*) >= 2
        |ORDER BY support DESC, item_a, item_b LIMIT 20""".stripMargin),

    // ── Behavioral trigram mining: which 3-step event sequences
    //    actually occur, with occurrence + distinct-user support — the
    //    discovery step upstream of ext_funnel's single hypothesized
    //    path (Events.sequenceNgrams scaladoc; all-integer, top-k on
    //    the post-agg gram table only).
    Query("ext_event_ngrams", (s, dir) =>
      Events.sequenceNgrams(t(s, dir, "events"), n = 3, k = 20),
      // trigram replay: same (ts, event_id) user-stream total order as
      // the attribution oracle; concat_ws null-skipping matches Spark's,
      // and the explicit last-LEAD completeness filter makes it moot.
      """WITH g AS (
        |  SELECT user_id,
        |    concat_ws('>', event_type,
        |      LEAD(event_type, 1) OVER w,
        |      LEAD(event_type, 2) OVER w) AS gram,
        |    LEAD(event_type, 2) OVER w IS NOT NULL AS complete
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT gram, CAST(COUNT(*) AS BIGINT) AS n_occ,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM g WHERE complete GROUP BY gram
        |ORDER BY n_occ DESC, gram LIMIT 20""".stripMargin),

    // ── Weekly-seasonality autocorrelation — [EXT r12]: lag-7 Pearson r
    //    of the zero-filled per-type daily counts; the corpus collapses
    //    to (type, day) rows in one aggregate, everything after is
    //    calendar-bounded (Events.lagAutocorr scaladoc).
    Query("ext_autocorr", (s, dir) =>
      Events.lagAutocorr(t(s, dir, "events"), col("event_type"),
        col("ts"), lagDays = 7),
      // Autocorrelation replay: UTC day indices, zero-filled per-type
      // series over the global day spine, lag-7 self-join, DECIMAL(38,0)
      // cross-moments (the ksTest overflow lesson), IEEE Pearson chain,
      // NULL on zero variance.
      """WITH e AS (
        |  SELECT event_type AS group_key,
        |    epoch_ms(date_trunc('day', ts)) // 86400000 AS di
        |  FROM events WHERE ts IS NOT NULL),
        |d AS (
        |  SELECT group_key, di, CAST(COUNT(*) AS BIGINT) AS x
        |  FROM e GROUP BY 1, 2),
        |sp AS (
        |  SELECT unnest(range((SELECT MIN(di) FROM d),
        |    (SELECT MAX(di) FROM d) + 1)) AS di),
        |f AS (
        |  SELECT t.group_key, s.di, COALESCE(d.x, 0) AS x
        |  FROM (SELECT DISTINCT group_key FROM d) t
        |  CROSS JOIN sp s
        |  LEFT JOIN d ON d.group_key = t.group_key AND d.di = s.di),
        |pr AS (
        |  SELECT a.group_key, a.x AS xa, b.x AS xb
        |  FROM f a JOIN f b
        |    ON a.group_key = b.group_key AND b.di = a.di + 7),
        |g AS (
        |  SELECT group_key, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |    SUM(xa) AS sa, SUM(xb) AS sb,
        |    SUM(CAST(xa AS DECIMAL(19,0)) * xb) AS sab,
        |    SUM(CAST(xa AS DECIMAL(19,0)) * xa) AS saa,
        |    SUM(CAST(xb AS DECIMAL(19,0)) * xb) AS sbb
        |  FROM pr GROUP BY 1)
        |SELECT group_key, n_pairs, CAST(7 AS BIGINT) AS lag,
        |  CASE WHEN
        |    sqrt(CAST(n_pairs AS DOUBLE) * CAST(saa AS DOUBLE)
        |      - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
        |    * sqrt(CAST(n_pairs AS DOUBLE) * CAST(sbb AS DOUBLE)
        |      - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)) > 0.0
        |  THEN round(
        |    (CAST(n_pairs AS DOUBLE) * CAST(sab AS DOUBLE)
        |      - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
        |    / (sqrt(CAST(n_pairs AS DOUBLE) * CAST(saa AS DOUBLE)
        |        - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
        |       * sqrt(CAST(n_pairs AS DOUBLE) * CAST(sbb AS DOUBLE)
        |        - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))), 6)
        |  END AS autocorr
        |FROM g ORDER BY group_key""".stripMargin),

    // ── Freshness-decayed aggregates — [EXT r12]: per-type effective
    //    recent volume, 2^(-age/7d) weighted against the newest row
    //    (anchor-stable, no wall clock); one broadcast anchor + one
    //    map-collapsing scan (Events.freshnessDecay scaladoc).
    Query("ext_freshness_decay", (s, dir) =>
      Events.freshnessDecay(t(s, dir, "events"), col("event_type"),
        col("ts"), col("value"), halfLifeDays = 7.0),
      // Freshness replay: integer-ms ages against the max-ts anchor, the
      // 9dp-quantized exponent -> pow(2,x) -> 9dp weight chain, decimal
      // sums, null ts = weight 0 via COALESCE.
      """WITH a AS (SELECT MAX(epoch_ms(ts)) AS anchor_ms FROM events),
        |w AS (
        |  SELECT event_type,
        |    COALESCE(round(pow(2.0,
        |      round(CAST(epoch_ms(ts) - anchor_ms AS DOUBLE)
        |        / 604800000.0, 9)), 9), 0.0) AS w,
        |    value AS v
        |  FROM events CROSS JOIN a)
        |SELECT event_type AS group_key, CAST(COUNT(*) AS BIGINT) AS n,
        |  round(CAST(SUM(CAST(w AS DECIMAL(28,9))) AS DOUBLE), 6)
        |    AS decayed_n,
        |  round(CAST(SUM(CAST(round(w * v, 6) AS DECIMAL(28,6))) AS DOUBLE), 6)
        |    AS decayed_value
        |FROM w GROUP BY 1 ORDER BY group_key""".stripMargin),

    // ── Trending: daily top-3 event types by count — tumbling window
    //    composed with the per-group top-k (window-start partition key
    //    cardinality grows with the time range, never a small constant).
    Query("ext_trending", (s, dir) => {
      val daily = Events.tumblingAgg(t(s, dir, "events"), "day")
      Events.topKPerGroup(daily, col("window_start"),
        Seq(col("n").desc, col("event_type")), 3)
        .select(col("window_start"), col("event_type"), col("n"),
          col("rn").cast("long").as("rank"))
        .orderBy("window_start", "rank")
    },
      """WITH d AS (
        |  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S')
        |           AS window_start,
        |         event_type, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT window_start, event_type, n,
        |    ROW_NUMBER() OVER (PARTITION BY window_start
        |                       ORDER BY n DESC, event_type) AS rank
        |  FROM d)
        |SELECT window_start, event_type, n, CAST(rank AS BIGINT) AS rank
        |FROM r WHERE rank <= 3 ORDER BY window_start, rank""".stripMargin),

    // ── Last-touch attribution: each purchase attributed to the same
    //    user's immediately-preceding event within the hour, strictly
    //    before by the (ts, event_id) total order; no prior → null =
    //    "direct" (Events.lastTouchAttribution scaladoc).
    Query("ext_attribution", (s, dir) =>
      Events.lastTouchAttribution(
        t(s, dir, "events"), target = "purchase", horizonSec = 3600L)
        .orderBy("event_id"),
      """WITH o AS (
        |  SELECT event_id, user_id, ts, event_type,
        |    lag(event_type) OVER w AS prev_type,
        |    lag(ts) OVER w AS prev_ts
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |p AS (
        |  SELECT event_id, user_id, ts, prev_type,
        |    (epoch_us(ts) - epoch_us(prev_ts)) // 1000000 AS gap_sec
        |  FROM o WHERE event_type = 'purchase')
        |SELECT event_id, user_id,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS converted_at,
        |  CASE WHEN gap_sec <= 3600 THEN prev_type END AS attributed_type,
        |  CASE WHEN gap_sec <= 3600 THEN gap_sec END AS seconds_before
        |FROM p ORDER BY event_id""".stripMargin),

    // ── Interval analytics: peak concurrency per (event_type, day) —
    //    each event an interval of `value` seconds, sweep-line deltas,
    //    day-clipped so the window partition grows with the time range
    //    (Events.concurrencyPeaks scaladoc).
    Query("ext_concurrency", (s, dir) =>
      Events.concurrencyPeaks(t(s, dir, "events"))
        .orderBy("event_type", "day"),
      // Sweep replay: same clamp (trunc-cast — Spark's double→long
      // truncates where a bare DuckDB CAST would round), same day clip,
      // same (t, delta DESC, event_id) total order with explicit ROWS
      // framing (unique keys make Spark's default RANGE identical).
      """WITH sp AS (
        |  SELECT event_id, event_type,
        |    epoch_us(ts) AS start_us,
        |    epoch_us(ts) + least(greatest(CAST(trunc(value) AS BIGINT), 1), 86400)
        |      * 1000000 AS end_us
        |  FROM events),
        |cl AS (
        |  SELECT event_id, event_type, day_idx,
        |    greatest(start_us, day_idx * 86400000000) AS s_us,
        |    least(end_us, (day_idx + 1) * 86400000000) AS e_us
        |  FROM (
        |    SELECT *, unnest(range(start_us // 86400000000,
        |      (end_us - 1) // 86400000000 + 1)) AS day_idx
        |    FROM sp)),
        |dl AS (
        |  SELECT event_type, day_idx, event_id, s_us AS t_us, 1 AS delta FROM cl
        |  UNION ALL
        |  SELECT event_type, day_idx, event_id, e_us, -1 FROM cl),
        |r AS (
        |  SELECT event_type, day_idx, t_us,
        |    SUM(delta) OVER (PARTITION BY event_type, day_idx
        |                     ORDER BY t_us, delta DESC, event_id
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS running
        |  FROM dl),
        |p AS (
        |  SELECT event_type, day_idx, running, t_us,
        |    MAX(running) OVER (PARTITION BY event_type, day_idx) AS peak
        |  FROM r)
        |SELECT event_type,
        |  strftime(make_timestamp(day_idx * 86400000000), '%Y-%m-%d') AS day,
        |  CAST(MAX(peak) AS BIGINT) AS peak_concurrency,
        |  strftime(make_timestamp(MIN(t_us)), '%Y-%m-%d %H:%M:%S') AS peak_at
        |FROM p WHERE running = peak
        |GROUP BY event_type, day_idx ORDER BY event_type, day""".stripMargin),

    // ── Trailing z-score anomaly detection: each event scored against
    //    its user's previous-5 baseline (frame ends at 1 PRECEDING — no
    //    self-contamination; cold start scores null, not normal).
    //    Decimal-accumulated frame sums, Events.trailingZScore scaladoc.
    Query("ext_anomaly_zscore", (s, dir) =>
      Events.trailingZScore(t(s, dir, "events"))
        .orderBy("event_id"),
      // Same trailing frame, same decimal-accumulated Σx/Σx², same
      // sample-variance unwind in raw doubles; zero/cold-start variance
      // yields null z on both engines.
      """WITH b AS (
        |  SELECT event_id, user_id, value,
        |    COUNT(*) OVER w AS n_prior,
        |    CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(value * value AS DECIMAL(28,12))) OVER w AS DOUBLE)
        |      AS sxx
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING)),
        |z AS (
        |  SELECT event_id, user_id, value,
        |    CAST(n_prior AS BIGINT) AS n_prior,
        |    round(sx / CAST(n_prior AS DOUBLE), 6) AS trail_mean,
        |    CASE WHEN n_prior >= 3
        |           AND (sxx - sx * sx / CAST(n_prior AS DOUBLE))
        |               / CAST(n_prior - 1 AS DOUBLE) > 0
        |         THEN round((value - sx / CAST(n_prior AS DOUBLE))
        |                / sqrt((sxx - sx * sx / CAST(n_prior AS DOUBLE))
        |                       / CAST(n_prior - 1 AS DOUBLE)), 6)
        |    END AS z
        |  FROM b)
        |SELECT event_id, user_id, value, n_prior, trail_mean, z,
        |       COALESCE(abs(z) >= 3.0, FALSE) AS is_anomaly
        |FROM z ORDER BY event_id""".stripMargin),

    // ── Per-user EWMA trend line over event values: trailing 8-lag
    //    halving weights in exact integer form (mass 511 — odd, so no
    //    6dp rounding-boundary tie can flip cross-engine), NULL on
    //    warm-up rows — the smoothed per-entity metric a monitor
    //    thresholds on instead of raw points (Events.ewmaSmooth
    //    scaladoc; the oracle replays the 9 lag terms verbatim).
    Query("ext_ewma", (s, dir) =>
      Events.ewmaSmooth(t(s, dir, "events"), col("user_id"), col("ts"),
        col("event_id"), col("value"))
        .select(col("k").as("user_id"), col("id").as("event_id"),
          col("x"), col("ewma"))
        .orderBy("event_id"),
      // EWMA replay: the 9 lag terms verbatim — each an exact ×2^(8−j)
      // binary scaling round(·,6)'d into a DECIMAL(28,6) sum over the odd
      // weight mass 511 (Events.ewmaSmooth's no-rounding-tie argument); a
      // missing lag (warm-up) or NULL value NULLs the sum on both engines
      // identically.
      {
        def xj(j: Int): String = if (j == 0) "x" else s"x$j"
        val lags = (1 to 8).map(j => s"lag(x, $j) OVER w AS x$j")
          .mkString(",\n    ")
        val num = (0 to 8).map { j =>
          val w = (1L << (8 - j)).toDouble.toString
          s"CAST(round(${xj(j)} * $w, 6) AS DECIMAL(28,6))"
        }.mkString("\n      + ")
        s"""WITH b AS (
           |  SELECT user_id, ts, event_id, round(CAST(value AS DOUBLE), 6) AS x
           |  FROM events
           |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
           |    AND event_id IS NOT NULL),
           |l AS (
           |  SELECT user_id, event_id, x,
           |    $lags
           |  FROM b WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
           |SELECT user_id, event_id, x,
           |  round(CAST(($num) AS DOUBLE) / 511.0, 6) AS ewma
           |FROM l ORDER BY event_id""".stripMargin
      })
  )
}
