package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class EventsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  // base aligned to the top of an hour so same-hour fixtures stay in one
  // tumbling window (1699999200000 = 2023-11-14 22:00:00 UTC)
  private def ts(min: Long) = new Timestamp(1699999200000L + min * 60000L)

  /** user 1: events at t0, t0+10min, t0+50min (40-min gap → 2 sessions);
    * user 2: one event. */
  private lazy val events = Seq(
    (1L, 1L, ts(0), "click", 1.0),
    (2L, 1L, ts(10), "view", 2.0),
    (3L, 1L, ts(50), "click", 3.0),
    (4L, 2L, ts(5), "view", 4.0))
    .toDF("event_id", "user_id", "ts", "event_type", "value")

  test("sessionize splits on the 30-min gap") {
    val got = Events.sessionStats(events, gapMs = 1800000L).collect()
    val byUser = got.map(r =>
      r.getAs[Long]("user_id") ->
        (r.getAs[Long]("n_sessions"), r.getAs[Long]("longest_session"),
          r.getAs[Long]("n_events"))).toMap
    assert(byUser(1L) == ((2L, 2L, 3L)))
    assert(byUser(2L) == ((1L, 1L, 1L)))
  }

  test("sessionize boundary: gap of exactly 30 min does NOT split") {
    val e = Seq((1L, 1L, ts(0), "c", 1.0), (2L, 1L, ts(30), "c", 1.0))
      .toDF("event_id", "user_id", "ts", "event_type", "value")
    val got = Events.sessionStats(e, gapMs = 1800000L).collect().head
    assert(got.getAs[Long]("n_sessions") == 1L)
  }

  test("tumbling hour agg groups by window start") {
    val got = Events.tumblingAgg(events, "hour").collect()
    // all four events fall in the same hour → one row per event_type
    assert(got.map(_.getAs[String]("event_type")).toSet == Set("click", "view"))
    val click = got.find(_.getAs[String]("event_type") == "click").get
    assert(click.getAs[Long]("n") == 2L)
    assert(click.getAs[Double]("total_value") == 4.0)
  }

  test("slidingAgg lands each event in size/slide overlapping windows") {
    // base is :00-aligned → ts(0), ts(10) fall in windows starting at
    // 21:30 and 22:00; ts(50) in 22:00 and 22:30
    val got = Events.slidingAgg(events, sizeSec = 3600, slideSec = 1800)
      .collect()
    val clicks = got.filter(_.getAs[String]("event_type") == "click")
      .map(r => r.getAs[String]("window_start") -> r.getAs[Long]("n")).toMap
    assert(clicks == Map(
      "2023-11-14 21:30:00" -> 1L, // t0 only
      "2023-11-14 22:00:00" -> 2L, // t0 + t50
      "2023-11-14 22:30:00" -> 1L)) // t50 only
    // total (window, event) memberships = 2 per event
    assert(got.map(_.getAs[Long]("n")).sum == events.count() * 2)
  }

  test("asofJoin carries the latest at-or-before value, inclusive boundary") {
    val right = Seq((1L, 100L, 10.0), (1L, 200L, 20.0), (2L, 100L, 99.0))
      .toDF("k", "ms", "v")
    val left = Seq(
      (101L, 1L, 50L),   // before any right row → null
      (102L, 1L, 100L),  // exactly at 100 → inclusive → 10.0
      (103L, 1L, 150L),  // between → 10.0
      (104L, 1L, 500L),  // after all → 20.0
      (105L, 3L, 100L))  // key with no right rows → null
      .toDF("id", "k", "ms")
    val got = Events.asofJoin(left, right, "id", "k", "ms", "v")
      .orderBy("id").collect()
      .map(r => r.getAs[Long]("id") -> Option(r.getAs[java.lang.Double]("v"))).toMap
    assert(got(101L).isEmpty)
    assert(got(102L).contains(10.0))
    assert(got(103L).contains(10.0))
    assert(got(104L).contains(20.0))
    assert(got(105L).isEmpty)
  }

  test("asofJoin surfaces a genuinely-NULL right value (native ASOF semantics)") {
    // right row at ms=200 exists but its value is NULL: a native ASOF
    // join matches the ROW and returns NULL — the carry must not skip
    // it and resurrect the older 10.0.
    val right = Seq(
      (1L, 100L, Some(10.0)),
      (1L, 200L, Option.empty[Double]))
      .toDF("k", "ms", "v")
    val left = Seq((201L, 1L, 150L), (202L, 1L, 300L)).toDF("id", "k", "ms")
    val got = Events.asofJoin(left, right, "id", "k", "ms", "v")
      .orderBy("id").collect()
      .map(r => r.getAs[Long]("id") -> Option(r.getAs[java.lang.Double]("v"))).toMap
    assert(got(201L).contains(10.0)) // before the NULL row
    assert(got(202L).isEmpty, "NULL right value must surface, not carry 10.0 forward")
  }

  test("resampleFill emits gap buckets with n=0 and carries totals forward") {
    // user 1: events in hours 22 and 24 (UTC) → hour 23 is a gap
    val e = Seq(
      (1L, 1L, ts(0), "c", 1.0),
      (2L, 1L, ts(10), "c", 2.0),
      (3L, 1L, ts(125), "c", 7.0)) // 22:00 + 125min = hour 24 bucket
      .toDF("event_id", "user_id", "ts", "event_type", "value")
    val got = Events.resampleFill(e, 3600L).orderBy("bucket_start").collect()
    assert(got.length == 3) // hours 22, 23, 24
    val (h22, h23, h24) = (got(0), got(1), got(2))
    assert(h22.getAs[Long]("n") == 2L && h22.getAs[Double]("total_value") == 3.0)
    assert(h23.getAs[Long]("n") == 0L && h23.getAs[Double]("total_value") == 0.0)
    assert(h23.getAs[Double]("filled_value") == 3.0) // carried from hour 22
    assert(h24.getAs[Long]("n") == 1L && h24.getAs[Double]("filled_value") == 7.0)
  }

  test("resampleFill clamps pathological gaps observably") {
    // user 1: a 10-bucket silent gap; maxGapBuckets=3 must fill only the
    // first 3 empty buckets and REPORT one clamped gap — a 100M-bucket
    // gap at scale would otherwise overflow sequence()'s array cap
    val e = Seq(
      (1L, 1L, ts(0), "c", 1.0),
      (2L, 1L, ts(600), "c", 2.0)) // 10 hours later
      .toDF("event_id", "user_id", "ts", "event_type", "value")
    val clamped = Events.resampleFill(e, 3600L, maxGapBuckets = 3L)
    val rows = clamped.collect()
    // observed bucket + 3 clamped fill buckets + the far bucket = 5
    assert(rows.length == 5, s"expected clamped spine of 5, got ${rows.length}")
    val metrics = clamped.queryExecution.observedMetrics.collect {
      case (name, row) if name.startsWith("graft_resample_clamp_") => row
    }
    assert(metrics.nonEmpty && metrics.head.getAs[Long]("clamped_gaps") == 1L)
    // the default horizon leaves sane cadences untouched: full 11-bucket
    // spine, zero clamps reported
    val full = Events.resampleFill(e, 3600L)
    assert(full.count() == 11L)
    val zero = full.queryExecution.observedMetrics.collect {
      case (name, row) if name.startsWith("graft_resample_clamp_") => row
    }
    assert(zero.nonEmpty && zero.head.getAs[Long]("clamped_gaps") == 0L)
  }

  test("retention: cohorts by first day, distinct users per offset cell") {
    import java.sql.Timestamp
    def day(d: Int, h: Int = 12) =
      Timestamp.valueOf(f"2024-01-${d}%02d $h%02d:00:00")
    val events = Seq(
      (1L, day(1)), (1L, day(1, 23)), (1L, day(3)), // cohort 01-01: d0 (twice), d2
      (2L, day(1)), (2L, day(2)),                   // cohort 01-01: d0, d1
      (3L, day(2)), (3L, day(2, 1)))                // cohort 01-02: d0 only
      .toDF("user_id", "ts")
    val got = Events.retention(events)
      .as[(String, Long, Long)].collect().toSeq
    assert(got == Seq(
      ("2024-01-01", 0L, 2L), // users 1 and 2 active on their day 0
      ("2024-01-01", 1L, 1L), // user 2 on day 1
      ("2024-01-01", 2L, 1L), // user 1 on day 2
      ("2024-01-02", 0L, 1L)))
  }

  test("funnel: earliest strictly-increasing chain, per-user nulls") {
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(s * 1000)
    val events = Seq(
      // user 1 completes A→B→C but only via the SECOND A (first A has no
      // B after it within the chain rule? no — chain uses the EARLIEST A)
      (1L, ts(10), "A"), (1L, ts(20), "B"), (1L, ts(15), "A"), (1L, ts(30), "C"),
      // user 2: B before A — B must not count; chain stops after A
      (2L, ts(10), "B"), (2L, ts(20), "A"),
      // user 3: A and B at the same ts — strict > rejects the tie
      (3L, ts(10), "A"), (3L, ts(10), "B"),
      // user 4: no step events at all
      (4L, ts(5), "X"))
      .toDF("user_id", "ts", "event_type")
    val got = Events.funnel(events, Seq("A", "B", "C"))
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(1)), Option(r.get(2)), Option(r.get(3)), r.getLong(4))).toMap
    assert(got(1L) == (Some(10000L), Some(20000L), Some(30000L), 3L))
    assert(got(2L) == (Some(20000L), None, None, 1L))
    assert(got(3L) == (Some(10000L), None, None, 1L))
    assert(got(4L) == (None, None, None, 0L))
  }

  test("funnel fuzz: random event streams match a serial reference fold") {
    import java.sql.Timestamp
    val rnd = new scala.util.Random(20260813L)
    val types = Seq("A", "B", "C", "X")
    (1 to 4).foreach { trial =>
      val events = (1 to 120).map { _ =>
        (rnd.nextInt(8).toLong, // 8 users → dense per-user histories
          new Timestamp(1700000000000L + rnd.nextInt(5000) * 1000L),
          types(rnd.nextInt(types.length)))
      }
      val df = events.toDF("user_id", "ts", "event_type")
      val got = Events.funnel(df, Seq("A", "B", "C"))
        .collect().map(r => r.getLong(0) ->
          (Option(r.get(1)), Option(r.get(2)), Option(r.get(3)))).toMap
      // serial reference: earliest strictly-increasing chain
      events.groupBy(_._1).foreach { case (uid, evs) =>
        def minAfter(tpe: String, after: Option[Long]): Option[Long] = {
          val c = evs.filter(e => e._3 == tpe &&
            after.forall(a => e._2.getTime > a)).map(_._2.getTime)
          if (c.isEmpty) None else Some(c.min)
        }
        val t1 = minAfter("A", None)
        val t2 = if (t1.isEmpty) None else minAfter("B", t1)
        val t3 = if (t2.isEmpty) None else minAfter("C", t2)
        assert(got(uid) == (t1, t2, t3), s"trial $trial user $uid")
      }
    }
  }

  test("funnel plans one exchange: windows and aggregate share the user key") {
    val events = Seq((1L, new java.sql.Timestamp(0L), "A"))
      .toDF("user_id", "ts", "event_type")
    val plan = Events.funnel(events, Seq("A", "B"))
      .queryExecution.executedPlan.toString
    // exactly one shuffle for windows + aggregate (ignoring the local
    // input's initial distribution)
    assert(plan.split("Exchange hashpartitioning").length - 1 == 1, plan)
  }

  test("topKPerGroup keeps k best with deterministic ties") {
    val got = Events.topKPerGroup(
      events, col("user_id"), Seq(col("value").desc, col("event_id")), 2)
      .collect()
    val u1 = got.filter(_.getAs[Long]("user_id") == 1L).map(_.getAs[Long]("event_id"))
    assert(u1.toSet == Set(3L, 2L)) // values 3.0, 2.0
  }

  test("concurrencyPeaks: sweep-line peaks, midnight split, arrivals-first ties") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val evs = Seq(
      // three overlapping 60s sessions → peak 3 at the third arrival
      (1L, t("2024-03-01 10:00:00"), 1L, "s", 60.0),
      (2L, t("2024-03-01 10:00:20"), 2L, "s", 60.0),
      (3L, t("2024-03-01 10:00:40"), 3L, "s", 60.0),
      // arrivals-first: event 5 starts exactly when 4 ends → both open
      // for that instant under the inclusive reading... peak stays 2?
      // [a, a+10) then [a+10, a+20): at a+10 the +1 sorts before the -1
      // → running touches 2 briefly
      (4L, t("2024-03-01 20:00:00"), 4L, "tie", 10.0),
      (5L, t("2024-03-01 20:00:10"), 5L, "tie", 10.0),
      // crosses midnight: must appear in BOTH days' profiles
      (6L, t("2024-03-02 23:59:50"), 6L, "cross", 40.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = Events.concurrencyPeaks(evs)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getString(3))).toMap
    assert(got(("s", "2024-03-01")) == ((3L, "2024-03-01 10:00:40")))
    assert(got(("tie", "2024-03-01")) == ((2L, "2024-03-01 20:00:10")),
      "arrivals-first ordering counts the touching instant as overlap")
    assert(got(("cross", "2024-03-02")) == ((1L, "2024-03-02 23:59:50")))
    assert(got(("cross", "2024-03-03")) == ((1L, "2024-03-03 00:00:00")),
      "a midnight-crossing interval opens the next day's profile at 00:00")
    assert(got.size == 4)
  }

  test("concurrencyPeaks fuzz: matches a serial sweep reference") {
    val rnd = new scala.util.Random(2468L)
    val evs = (1 to 300).map { i =>
      (i.toLong,
        new java.sql.Timestamp(1709251200000L + rnd.nextInt(86400) * 1000L * 2),
        i.toLong, s"t${rnd.nextInt(3)}", rnd.nextInt(5000).toDouble / 2.0)
    }
    val dayUs = 86400L * 1000000L
    val want = evs.flatMap { case (id, ts, _, tpe, v) =>
      val s = ts.getTime * 1000L
      val e = s + math.min(math.max(v.toLong, 1L), 86400L) * 1000000L
      (s / dayUs to (e - 1) / dayUs).map { d =>
        (tpe, d, id, math.max(s, d * dayUs), math.min(e, (d + 1) * dayUs))
      }
    }.groupBy(r => (r._1, r._2)).map { case ((tpe, d), xs) =>
      val deltas = xs.flatMap(x => Seq((x._4, 1, x._3), (x._5, -1, x._3)))
        .sortBy { case (t, delta, id) => (t, -delta, id) }
      var run = 0; var peak = 0; var peakAt = 0L
      deltas.foreach { case (t, delta, _) =>
        run += delta
        if (run > peak) { peak = run; peakAt = t }
      }
      (tpe, d) -> (peak.toLong, peakAt)
    }
    val got = Events.concurrencyPeaks(
      evs.toDF("event_id", "ts", "user_id", "event_type", "value"))
      .collect().map { r =>
        val dayIdx = java.time.LocalDate.parse(r.getString(1)).toEpochDay
        // parse as UTC explicitly — Timestamp.valueOf would use the JVM
        // zone, and the engine formats in the session's UTC
        (r.getString(0), dayIdx) -> (r.getLong(2),
          java.time.LocalDateTime.parse(r.getString(3).replace(' ', 'T'))
            .toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000L)
      }.toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (k, (p, at)) =>
      assert((p, at) == want(k), s"cell $k")
    }
  }

  test("lastTouchAttribution: strictly-before, horizon-bounded, direct surfaces as null") {
    val ts0 = 1700000000000L
    def t(s: Long) = new java.sql.Timestamp(ts0 + s * 1000L)
    val evs = Seq(
      (1L, t(0), 1L, "view", 0.0),
      (2L, t(100), 1L, "click", 0.0),
      (3L, t(150), 1L, "purchase", 0.0),   // ← click 50s before
      (4L, t(200), 2L, "purchase", 0.0),   // no prior at all → direct
      (5L, t(300), 3L, "view", 0.0),
      (6L, t(300 + 4000), 3L, "purchase", 0.0), // prior beyond 3600s → direct
      (7L, t(500), 4L, "purchase", 0.0),
      (8L, t(500), 4L, "purchase", 0.0))   // same ts: 7 precedes 8 by event_id
    val got = Events.lastTouchAttribution(
      evs.toDF("event_id", "ts", "user_id", "event_type", "value"),
      target = "purchase", horizonSec = 3600L)
      .collect().map(r => r.getAs[Long]("event_id") ->
        (Option(r.getAs[String]("attributed_type")),
          Option(r.getAs[java.lang.Long]("seconds_before")).map(_.toLong))).toMap
    assert(got(3L) == ((Some("click"), Some(50L))))
    assert(got(4L) == ((None, None)), "no prior event must read as direct")
    assert(got(6L) == ((None, None)), "beyond the horizon must read as direct")
    // self-attribution check: purchase 8 attributes to purchase 7 (its
    // strict predecessor at the same instant), never to itself
    assert(got(7L) == ((None, None)))
    assert(got(8L) == ((Some("purchase"), Some(0L))))
    assert(got.size == 5)
  }

  test("trailingZScore: cold start null, leakage-free baseline, spike flagged") {
    val ts0 = 1700000000000L
    def t(m: Long) = new java.sql.Timestamp(ts0 + m * 60000L)
    // user 1: stable 10.0 baseline then a spike; user 2: constant values
    val evs = (1L to 6L).map(i => (i, t(i), 1L, "e", 10.0 + (i % 2) * 0.2)) ++
      Seq((7L, t(7), 1L, "e", 50.0)) ++ // spike vs [10.0, 10.2] baseline
      (11L to 15L).map(i => (i, t(i), 2L, "e", 5.0)) // zero variance
    val got = Events.trailingZScore(
      evs.toDF("event_id", "ts", "user_id", "event_type", "value"))
      .collect().map(r => r.getAs[Long]("event_id") ->
        (r.getAs[Long]("n_prior"), Option(r.getAs[java.lang.Double]("z")),
          r.getAs[Boolean]("is_anomaly"))).toMap

    assert(got(1L) == ((0L, None, false)), "first event: no baseline")
    assert(got(2L)._1 == 1L && got(2L)._2.isEmpty, "below minPrior: null z")
    assert(got(3L)._1 == 2L && got(3L)._2.isEmpty, "below minPrior: null z")
    assert(got(7L)._1 == 5L && got(7L)._3, "spike must flag")
    assert(got(7L)._2.get > 100.0, s"z vs tight baseline should be large: ${got(7L)._2}")
    // zero-variance baseline standardizes nothing — null z, not ±inf
    assert((14L to 15L).forall(i => got(i)._2.isEmpty && !got(i)._3))
    // leakage check: event 6's baseline is events 1-5 only; its own 10.0
    // is not in the frame, so its z is small but DEFINED
    assert(got(6L)._2.nonEmpty && math.abs(got(6L)._2.get) < 3.0 && !got(6L)._3)
  }

  test("trailingZScore fuzz: matches a serial frame reference") {
    val rnd = new scala.util.Random(616L)
    def q6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def q(x: Double, s: Int) = BigDecimal(x).setScale(s, BigDecimal.RoundingMode.HALF_UP)
    (1 to 3).foreach { trial =>
      val evs = (1 to 200).map { i =>
        (i.toLong, new java.sql.Timestamp(1700000000000L + rnd.nextInt(1000) * 60000L),
          rnd.nextInt(8).toLong, "e", rnd.nextInt(20).toDouble / 2.0)
      }
      val want = evs.groupBy(_._3).flatMap { case (_, es) =>
        val ordered = es.sortBy(e => (e._2.getTime, e._1))
        ordered.zipWithIndex.map { case (e, idx) =>
          val frame = ordered.slice(math.max(0, idx - 5), idx)
          val n = frame.length
          val sx = frame.map(f => q(f._5, 6)).sum.toDouble
          val sxx = frame.map(f => q(f._5 * f._5, 12)).sum.toDouble
          val z = if (n >= 3) {
            val v = (sxx - sx * sx / n) / (n - 1)
            if (v > 0) Some(q6((e._5 - sx / n) / math.sqrt(v))) else None
          } else None
          e._1 -> (n.toLong, z)
        }
      }
      val got = Events.trailingZScore(
        evs.toDF("event_id", "ts", "user_id", "event_type", "value"))
        .collect().map(r => r.getAs[Long]("event_id") ->
          (r.getAs[Long]("n_prior"), Option(r.getAs[java.lang.Double]("z")).map(_.toDouble)))
        .toMap
      assert(got == want, s"trial $trial")
    }
  }

  test("basketPairs: unordered co-support, repeats collapse, minSupport") {
    val ev = Seq(
      // u1 basket {a,b,c}; u2 {a,b}; u3 {b,a} (order/repeat-free)
      (1L, 1L, ts(0), "a", 0.0), (2L, 1L, ts(1), "b", 0.0),
      (3L, 1L, ts(2), "c", 0.0),
      (4L, 2L, ts(0), "a", 0.0), (5L, 2L, ts(1), "b", 0.0),
      (6L, 3L, ts(0), "b", 0.0), (7L, 3L, ts(1), "a", 0.0),
      (8L, 3L, ts(2), "a", 0.0) // repeat must not double-count
    ).toDF("event_id", "user_id", "ts", "event_type", "value")
    val got = Events.basketPairs(ev, col("user_id"), col("event_type"))
      .as[(String, String, Long)].collect().toSeq
    // (a,b) support 3; (a,c)/(b,c) support 1 < minSupport → dropped
    assert(got == Seq(("a", "b", 3L)))
    val all = Events.basketPairs(ev, col("user_id"), col("event_type"),
      minSupport = 1L)
      .as[(String, String, Long)].collect().toSeq
    assert(all == Seq(("a", "b", 3L), ("a", "c", 1L), ("b", "c", 1L)),
      "support-desc then lexicographic pair order")
  }

  test("sequenceNgrams: per-user trigrams, support counts, ties, k cut") {
    val ev = Seq(
      (1L, 1L, ts(0), "a", 0.0), (2L, 1L, ts(1), "b", 0.0),
      (3L, 1L, ts(2), "c", 0.0), (4L, 1L, ts(3), "b", 0.0),
      (5L, 1L, ts(4), "c", 0.0),
      (6L, 2L, ts(0), "a", 0.0), (7L, 2L, ts(1), "b", 0.0),
      (8L, 2L, ts(2), "c", 0.0),
      (9L, 3L, ts(0), "a", 0.0), (10L, 3L, ts(1), "b", 0.0) // too short
    ).toDF("event_id", "user_id", "ts", "event_type", "value")
    val all = Events.sequenceNgrams(ev, n = 3, k = 20)
      .as[(String, Long, Long)].collect().toSeq
    assert(all == Seq(
      ("a>b>c", 2L, 2L), ("b>c>b", 1L, 1L), ("c>b>c", 1L, 1L)),
      "count-desc then lexicographic gram order; user 3 contributes none")
    // grams never cross user streams
    assert(!all.exists(_._1.contains("b>a")))
    val cut = Events.sequenceNgrams(ev, n = 3, k = 2)
      .as[(String, Long, Long)].collect().toSeq
    assert(cut == all.take(2))
  }

  test("freshnessDecay: hand-computed half-life weights, null ts = weight 0") {
    // anchor = newest row; one row AT the anchor (w=1), one exactly one
    // half-life (7 days) older (w=0.5), one with null ts (w=0, counted)
    val week = 604800000L
    val base = 1699999200000L
    val rows = Seq(
      ("a", new Timestamp(base), 10.0),
      ("a", new Timestamp(base - week), 20.0),
      ("b", new Timestamp(base - 2 * week), 8.0),
      ("b", null.asInstanceOf[Timestamp], 100.0))
      .toDF("event_type", "ts", "value")
    val got = Events.freshnessDecay(rows, col("event_type"), col("ts"),
      col("value"), halfLifeDays = 7.0)
      .as[(String, Long, Double, Double)].collect().map(r => r._1 -> r).toMap
    val a = got("a"); val b = got("b")
    assert(a._2 == 2 && a._3 == 1.5, s"w(anchor)=1 + w(1 half-life)=0.5: $a")
    assert(a._4 == 20.0, "10*1 + 20*0.5")
    assert(b._2 == 2, "null-ts row still counted in n")
    assert(b._3 == 0.25, "2 half-lives -> 0.25; null ts -> 0")
    assert(b._4 == 2.0, "8*0.25 + skipped-null nothing")
    // anchor-stability: shifting ALL timestamps by a constant changes nothing
    val shifted = Seq(
      ("a", new Timestamp(base + 123456789L), 10.0),
      ("a", new Timestamp(base + 123456789L - week), 20.0))
      .toDF("event_type", "ts", "value")
    val s2 = Events.freshnessDecay(shifted, col("event_type"), col("ts"),
      col("value")).as[(String, Long, Double, Double)].collect().head
    assert(s2._3 == 1.5 && s2._4 == 20.0)
  }

  test("lagAutocorr: periodic series -> 1, anti-phase -> -1, zero-fill proven, constant -> NULL") {
    val day = 86400000L
    val base = 1699999200000L
    def at(di: Int) = new Timestamp(base + di * day)
    // type "p": spikes every 7th day ONLY (days 0,7,14) — the r=1 result
    // is only reachable if missing days zero-fill (without fill the
    // series is constant 3 and r is undefined)
    val spikes = for (di <- Seq(0, 7, 14); _ <- 1 to 3) yield ("p", at(di))
    // type "alt": period-2 alternation over the SAME 15-day span as the
    // spike series (the spine is global; a shorter span would zero-fill
    // this type's tail and break the planted phase); lag 7 -> r = -1
    val alt = for (di <- 0 until 15; _ <- 1 to (if (di % 2 == 0) 5 else 1))
      yield ("alt", at(di))
    // type "const": identical count every spanned day -> zero variance
    val const = for (di <- 0 until 15; _ <- 1 to 2) yield ("const", at(di))
    val events = (spikes ++ alt ++ const).toDF("event_type", "ts")
    val got = Events.lagAutocorr(events, col("event_type"), col("ts"),
      lagDays = 7)
      .as[(String, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> r).toMap
    assert(got("p")._4.contains(1.0),
      s"7-day spikes need zero-fill to read r=1: ${got("p")}")
    assert(got("alt")._4.contains(-1.0), s"anti-phase: ${got("alt")}")
    assert(got("const")._4.isEmpty, "constant series has no defined r")
    assert(got.values.forall(_._3 == 7L))
  }

  test("conversionLag: first-click→first-purchase seconds, exact quantiles") {
    def ts(s: Long) = new java.sql.Timestamp(1700000000000L + s * 1000L)
    // users 1..5 convert with lags 10,20,30,40,50 s; user 6 clicked but
    // never bought; user 7 bought BEFORE clicking (not a conversion);
    // user 8 only bought (no click → not in the base population)
    val rows =
      (1 to 5).flatMap(u => Seq(
        (u.toLong, "click", ts(0)), (u.toLong, "purchase", ts(u * 10L)))) ++
        Seq((6L, "click", ts(0)),
          (7L, "purchase", ts(0)), (7L, "click", ts(100)),
          (8L, "purchase", ts(0)))
    val events = rows.toDF("user_id", "event_type", "ts")
    val Seq(got) = onBothPaths(Events.conversionLag(events))
    assert(got.getAs[Long]("n_from_users") == 7L)
    assert(got.getAs[Long]("n_converted") == 5L)
    // ceil(.5·5)=3rd, ceil(.9·5)=5th, ceil(.99·5)=5th of (10,20,30,40,50)
    assert(got.getAs[Long]("p50_lag_s") == 30L)
    assert(got.getAs[Long]("p90_lag_s") == 50L)
    assert(got.getAs[Long]("p99_lag_s") == 50L)
    // zero conversions: counts survive, quantiles NULL
    val Seq(none) = onBothPaths(Events.conversionLag(
      Seq((1L, "click", ts(0))).toDF("user_id", "event_type", "ts")))
    assert(none.getAs[Long]("n_from_users") == 1L)
    assert(none.getAs[Long]("n_converted") == 0L)
    assert(none.isNullAt(none.fieldIndex("p50_lag_s")))
    // one converting user: every quantile is its lag
    val Seq(one) = onBothPaths(Events.conversionLag(Seq(
        (1L, "click", ts(3)), (1L, "purchase", ts(8)))
      .toDF("user_id", "event_type", "ts")))
    assert(one.toSeq == Seq(1L, 1L, 5L, 5L, 5L))
    // no event at all: one row, n_converted NULL (sum over no users)
    val Seq(empty) = onBothPaths(Events.conversionLag(
      Seq.empty[(Long, String, java.sql.Timestamp)]
        .toDF("user_id", "event_type", "ts")), degenerate = true)
    assert(empty.toSeq == Seq(0L, null, null, null, null))
  }

  test("ewmaSmooth: integer halving weights over the odd mass, exact quotients") {
    // lags=2 → weights 4,2,1, mass 7
    val rows = Seq((1L, 1L, 1.0), (1L, 2L, 2.0), (1L, 3L, 3.0), (1L, 4L, 4.0))
      .toDF("k", "id", "v")
    val got = Events.ewmaSmooth(rows, col("k"), col("id"), col("id"),
        col("v"), lags = 2)
      .orderBy("id")
      .select("id", "ewma").as[(Long, Option[Double])].collect()
    // warm-up rows (fewer than 2 predecessors) are NULL, kept
    assert(got(0) == ((1L, None)))
    assert(got(1) == ((2L, None)))
    // (4·3 + 2·2 + 1·1)/7 = 17/7; (4·4 + 2·3 + 1·2)/7 = 24/7
    assert(got(2) == ((3L, Some(2.428571))))
    assert(got(3) == ((4L, Some(3.428571))))
  }

  test("ewmaSmooth: keys are independent; a NULL value poisons its window visibly") {
    val rows = Seq(
      (1L, 1L, Some(10.0)), (1L, 2L, Some(10.0)), (1L, 3L, Some(10.0)),
      (2L, 1L, Some(1.0)), (2L, 2L, None), (2L, 3L, Some(1.0)),
      (2L, 4L, Some(1.0)), (2L, 5L, Some(1.0)))
      .toDF("k", "id", "v")
    val got = Events.ewmaSmooth(rows, col("k"), col("id"), col("id"),
        col("v"), lags = 2)
      .orderBy("k", "id")
      .select("k", "id", "ewma").as[(Long, Long, Option[Double])].collect()
    // key 1: constant series smooths to itself exactly (70/7)
    assert(got(2) == ((1L, 3L, Some(10.0))))
    // key 2: the NULL at id=2 poisons every window containing it
    // (ids 2, 3, 4) — ewma NULL, row kept; id=5's window is clean
    assert(got.filter(_._1 == 2L).map(_._3).toSeq ==
      Seq(None, None, None, None, Some(1.0)))
  }

  // ── activityConcentration / activityKnee ───────────────────────────

  test("activityConcentration: HHI, effective users, top share per day") {
    val ev = (Seq.fill(3)((1L, day(0))) :+ ((2L, day(0)))) ++
      Seq((1L, day(1)), (2L, day(1))) // balanced day
    val got = Events.activityConcentration(ev.toDF("user_id", "ts"))
      .as[(Long, Long, Long, Double, Double, Double)].collect().toSeq
    val b = got.head._1
    assert(got == Seq(
      // day 0: counts 3,1 → top 0.75, hhi 10/16, eff 16/10
      (b, 4L, 2L, 0.75, 0.625, 1.6),
      // day 1: perfectly balanced → hhi 1/2, eff = n_users
      (b + 1, 2L, 2L, 0.5, 0.5, 2.0)))
  }

  test("activityKnee: argmax of cumulative-share gap, earliest-rank ties") {
    // counts 10,5,1,1,1 → knee at rank 2 (cum 15/18 vs 2/5 of users)
    val ev = (1L to 5L).flatMap { u =>
      val c = u match { case 1 => 10; case 2 => 5; case _ => 1 }
      (0 until c).map(_ => (u, day(u.toInt)))
    }.toDF("user_id", "ts")
    val got = Events.activityKnee(ev)
      .as[(Long, Long, Long, Double, Double, Double)].collect().head
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got._1 == 5L && got._2 == 18L && got._3 == 2L)
    assert(got._4 == 0.4 && got._5 == r6(15.0 / 18.0))
    assert(got._6 == r6(15.0 / 18.0 - 2.0 / 5.0))
    // degenerate flat curve: gap 0 everywhere → earliest rank wins
    val flat = Seq((1L, day(0)), (2L, day(0))).toDF("user_id", "ts")
    val g2 = Events.activityKnee(flat)
      .as[(Long, Long, Long, Double, Double, Double)].collect().head
    assert(g2._3 == 1L && g2._6 == 0.0)
  }

  // ── cohortLtv ──────────────────────────────────────────────────────

  test("cohortLtv: cumulative value per cohort MEMBER, nulls count as 0") {
    val ev = Seq(
      (1L, day(0), Some(10.0)), (1L, day(1), Some(5.0)),
      (2L, day(0), Option.empty[Double])) // active, worthless, still sized
      .toDF("user_id", "ts", "value")
    val got = Events.cohortLtv(ev)
      .as[(String, Long, Long, Long, Double, Double)].collect().toSeq
    val cd = got.head._1 // cohort day string of day(0)
    assert(got == Seq(
      (cd, 0L, 2L, 2L, 10.0, 5.0),   // 10 over 2 members
      (cd, 1L, 2L, 1L, 5.0, 7.5)))   // churned u2 drags the average
  }

  // ── activityStreaks / growthAccounting / stickiness ────────────────

  test("activityStreaks: islands, longest vs ending, multi-visit days collapse") {
    val ev = (Seq(0, 0, 1, 2, 5, 6, 9).map(d => (1L, day(d))) ++
      Seq(4, 5).map(d => (2L, day(d))))
      .toDF("user_id", "ts")
    val got = Events.activityStreaks(ev)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 6L, 3L, 3L, 1L), // [0-2],[5-6],[9] — ends on the singleton
      (2L, 2L, 1L, 2L, 2L)))
  }

  test("growthAccounting: identity holds; dead day carries the churn") {
    val ev = (Seq(0, 1, 3).map(d => (1L, day(d))) :+ ((2L, day(1))))
      .toDF("user_id", "ts")
    val got = Events.growthAccounting(ev)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    val b = got.head._1 // epoch day of day(0) — expectations are offsets
    assert(got == Seq(
      (b, 1L, 1L, 0L, 0L, 0L),
      (b + 1, 2L, 1L, 1L, 0L, 0L),
      (b + 2, 0L, 0L, 0L, 0L, 2L), // both users drop off after day 1
      (b + 3, 1L, 0L, 0L, 1L, 0L))) // u1 resurrects across the gap
    got.foreach { r => // active = new + retained + resurrected, per row
      assert(r._2 == r._3 + r._4 + r._5)
    }
  }

  test("stickiness: sweep-line trailing windows match hand coverage") {
    val ev = (Seq(0, 10).map(d => (1L, day(d))) :+ ((2L, day(0))))
      .toDF("user_id", "ts")
    val raw = Events.stickiness(ev)
      .as[(Long, Long, Long, Long, Option[Double])].collect()
    val b = raw.map(_._1).min // epoch day of day(0)
    val got = raw.map(r => (r._1 - b) -> r.copy(_1 = r._1 - b)).toMap
    assert(got(0L) == (0L, 2L, 2L, 2L, Some(1.0)))
    // day 5: nobody active, both still inside the 7-day window of day 0
    assert(got(5L) == (5L, 0L, 2L, 2L, Some(0.0)))
    // day 7: day-0 activity has left the 7-day window
    assert(got(7L) == (7L, 0L, 0L, 2L, Some(0.0)))
    // day 10: u1 returns; u2 still in the 28-day window
    assert(got(10L) == (10L, 1L, 1L, 2L, Some(0.5)))
  }

  test("stickiness: a >28-day dead stretch yields NULL, not 0/0") {
    val ev = Seq((1L, day(0)), (1L, day(40))).toDF("user_id", "ts")
    val raw = Events.stickiness(ev)
      .as[(Long, Long, Long, Long, Option[Double])].collect()
    val b = raw.map(_._1).min
    val got = raw.map(r => (r._1 - b) -> r.copy(_1 = r._1 - b)).toMap
    assert(got(35L)._4 == 0L && got(35L)._5.isEmpty) // mau 0 → NULL
    assert(got(40L) == (40L, 1L, 1L, 1L, Some(1.0)))
  }

  // ── rfmSegments ────────────────────────────────────────────────────

  test("rfmSegments: engineered quintiles land the classic segments") {
    // user i (1..10): i events, last active day i, value i per event —
    // all three metrics rank users identically, 2 per tile
    val ev = (1L to 10L).flatMap { i =>
      (0L until i).map(j => (i, day(i.toInt), i.toDouble + j * 0.0))
    }.toDF("user_id", "ts", "value")
    val got = Events.rfmSegments(ev)
      .collect().map(r => r.getAs[Long]("user_id") -> r).toMap
    assert(got(10L).getAs[Long]("days_since") == 0L)
    assert(got(1L).getAs[Long]("days_since") == 9L)
    assert(got(10L).getAs[Long]("r_score") == 5L &&
      got(10L).getAs[Long]("f_score") == 5L &&
      got(10L).getAs[Long]("m_score") == 5L)
    assert(got(10L).getAs[String]("segment") == "champion")
    assert(got(9L).getAs[String]("segment") == "champion")
    assert(got(1L).getAs[String]("segment") == "hibernating")
    assert(got(5L).getAs[String]("segment") == "regular")
    assert(got(5L).getAs[Double]("monetary") == 25.0) // 5 events × 5.0
  }

  test("rfmSegments: all-NULL values coalesce to monetary 0; guard fires") {
    val ev = Seq(
      (1L, day(0), Option.empty[Double]), (2L, day(1), Some(3.0)))
      .toDF("user_id", "ts", "value")
    val got = Events.rfmSegments(ev)
      .collect().map(r => r.getAs[Long]("user_id") -> r).toMap
    assert(got(1L).getAs[Double]("monetary") == 0.0)
    val e = intercept[Exception] {
      Events.rfmSegments(ev, maxUsers = 1L).collect()
    }
    assert(e.getMessage.contains("rfmSegments") ||
      e.getCause != null && e.getCause.getMessage.contains("rfmSegments"))
  }

  // ── transitionMatrix ───────────────────────────────────────────────

  test("transitionMatrix: row-normalized counts, no cross-user transitions") {
    val ev = Seq(
      (1L, ts(0), 10L, "a"), (1L, ts(1), 11L, "b"), (1L, ts(2), 12L, "a"),
      (2L, ts(0), 20L, "b"), (2L, ts(5), 21L, "b"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val got = Events.transitionMatrix(ev)
      .as[(String, String, Long, Long, Double)].collect().toSeq
    // u1: a→b, b→a; u2: b→b — NOT a→b across the user boundary
    assert(got == Seq(
      ("a", "b", 1L, 1L, 1.0),
      ("b", "a", 1L, 2L, 0.5),
      ("b", "b", 1L, 2L, 0.5)))
  }

  test("transitionMatrix: same-timestamp events order by event_id") {
    val ev = Seq(
      (1L, ts(0), 2L, "d"), (1L, ts(0), 1L, "c"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val got = Events.transitionMatrix(ev)
      .as[(String, String, Long, Long, Double)].collect().toSeq
    assert(got == Seq(("c", "d", 1L, 1L, 1.0))) // c (id 1) precedes d (id 2)
  }

  // ── kaplanMeier ────────────────────────────────────────────────────

  private def day(d: Int) = new Timestamp(1704067200000L + d * 86400000L)

  /** The operator's exact float discipline: ln factors quantized to
    * 6dp decimals before summation, exp at the end, 6dp. */
  private def kmChain(factors: Seq[(Long, Long)]): Double = {
    val sum = factors.map { case (d, n) =>
      BigDecimal(math.log(1.0 - d.toDouble / n.toDouble))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    }.sum
    BigDecimal(math.exp(sum.toDouble))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  test("kaplanMeier: hand-built life table with censoring") {
    // A converts at day 3, B censored at last-seen day 5, C converts
    // immediately (t=0)
    val ev = Seq(
      (1L, day(0), "view", 10.0), (1L, day(3), "buy", 10.0),
      (2L, day(0), "view", 10.0), (2L, day(5), "view", 10.0),
      (3L, day(0), "buy", 10.0))
      .toDF("user_id", "ts", "event_type", "value")
    val got = Events.kaplanMeier(ev, col("event_type") === "buy")
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    val s0 = kmChain(Seq(1L -> 3L))            // t=0: d=1, n=3
    val s3 = kmChain(Seq(1L -> 3L, 1L -> 2L))  // t=3: d=1, n=2
    assert(got == Seq(
      (0L, 3L, 1L, 0L, s0),
      (3L, 2L, 1L, 0L, s3),
      (5L, 1L, 0L, 1L, s3))) // censoring never moves the curve
  }

  test("kaplanMeier: everyone failing at the last timepoint lands S=0, no ln(0)") {
    val ev = Seq(
      (1L, day(0), "view", 0.0), (1L, day(2), "buy", 0.0),
      (2L, day(0), "view", 0.0), (2L, day(2), "buy", 0.0))
      .toDF("user_id", "ts", "event_type", "value")
    val got = Events.kaplanMeier(ev, col("event_type") === "buy")
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq((2L, 2L, 2L, 0L, 0.0)))
  }

  test("kaplanMeier: null user/ts rows are excluded; target checks value too") {
    val ev = Seq(
      (Some(1L), Some(day(0)), "buy", 300.0),
      (Some(1L), Some(day(4)), "buy", 100.0), // below threshold: not a hit
      (None, Some(day(1)), "buy", 300.0),
      (Some(2L), None, "buy", 300.0))
      .toDF("user_id", "ts", "event_type", "value")
    val got = Events.kaplanMeier(
      ev, col("event_type") === "buy" && col("value") > 200.0)
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    // only user 1 survives the filters; converts at its first day (t=0)
    assert(got == Seq((0L, 1L, 1L, 0L, 0.0)))
  }

  // ── nelsonAalen / logrank ───────────────────────────────────────────

  test("nelsonAalen: hand-built life table, exact quantized hazard cumsum") {
    // u1 converts at t=2, u2 censored at t=4, u3 converts at t=0:
    //   t0: d1 n3 -> H 1/3 = .333333, V 1/9 = .111111
    //   t2: d1 n2 -> H + .5 = .833333, V + .25 = .361111
    //   t4: c1 n1 -> carries forward
    val ev = Seq(
      (1L, day(0), "view", 1.0), (1L, day(2), "buy", 300.0),
      (2L, day(0), "view", 1.0), (2L, day(4), "view", 1.0),
      (3L, day(0), "buy", 300.0))
      .toDF("user_id", "ts", "event_type", "value")
    val got = Events.nelsonAalen(ev, col("event_type") === "buy")
      .as[(Long, Long, Long, Long, Double, Double)].collect().toSeq
    assert(got == Seq(
      (0L, 3L, 1L, 0L, 0.333333, 0.111111),
      (2L, 2L, 1L, 0L, 0.833333, 0.361111),
      (4L, 1L, 0L, 1L, 0.833333, 0.361111)))
  }

  test("logrank: hand-computed O-E and hypergeometric variance terms") {
    // treat (odd ids): u1 t=1 obs, u3 t=2 obs.
    // control: u2 t=3 censored, u4 t=3 obs.
    //   t1: n=4 d=1 p1=.5  -> O-E .5,      V .25
    //   t2: n=3 d=1 p1=1/3 -> O-E .666667, V .222222
    //   t3: n=2 d=1 p1=0   -> O-E 0,       V 0
    val ev = Seq(
      (1L, day(0), "view", 1.0), (1L, day(1), "buy", 1.0),
      (3L, day(0), "view", 1.0), (3L, day(2), "buy", 1.0),
      (2L, day(0), "view", 1.0), (2L, day(3), "view", 1.0),
      (4L, day(0), "view", 1.0), (4L, day(3), "buy", 1.0))
      .toDF("user_id", "ts", "event_type", "value")
    val got = Events.logrank(ev, col("user_id") % 2 === 1,
      col("event_type") === "buy").collect().head
    assert(got.getAs[Long]("n_treat") == 2L)
    assert(got.getAs[Long]("n_control") == 2L)
    assert(got.getAs[Long]("d_treat") == 2L)
    assert(got.getAs[Long]("d_control") == 1L)
    assert(got.getAs[Double]("o_minus_e") == 1.166667)
    assert(got.getAs[Double]("var_sum") == 0.472222)
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.getAs[Double]("chi2") ==
      r6(1.166667 * 1.166667 / 0.472222))
    assert(!got.getAs[Boolean]("significant"))
  }

  test("logrank: a single-arm population accrues no variance -> NULL chi2") {
    val ev = Seq(
      (1L, day(0), "view", 1.0), (1L, day(1), "buy", 1.0),
      (3L, day(0), "view", 1.0))
      .toDF("user_id", "ts", "event_type", "value")
    val got = Events.logrank(ev, col("user_id") % 2 === 1,
      col("event_type") === "buy").collect().head
    assert(got.getAs[Long]("n_treat") == 2L)
    assert(got.getAs[Long]("n_control") == 0L)
    assert(got.isNullAt(got.fieldIndex("chi2")))
    assert(got.isNullAt(got.fieldIndex("significant")))
  }

  // ── interarrivalStats ────────────────────────────────────────────────

  private def tsMs(ms: Long) = new Timestamp(1699999200000L + ms)

  test("interarrivalStats: floor-second gaps, exact rank picks, " +
      "single-event types dropped") {
    // type a: events at 0 / 1.5s / 6.5s / 16.5s -> gaps [1, 5, 10]
    //   (1.5s gap floors to 1 — sub-second truncation pinned);
    // type b: one event -> zero gaps -> no output row.
    val ev = Seq(
      (1L, 1L, tsMs(0L), "a", 1.0),
      (2L, 1L, tsMs(1500L), "a", 1.0),
      (3L, 1L, tsMs(6500L), "a", 1.0),
      (4L, 1L, tsMs(16500L), "a", 1.0),
      (5L, 2L, tsMs(0L), "b", 1.0))
      .toDF("event_id", "user_id", "ts", "event_type", "value")
    val got = Events.interarrivalStats(ev)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    // n=3 sorted gaps [1,5,10]: p50 rank ceil(1.5)=2 -> 5,
    // p90 rank ceil(2.7)=3 -> 10, p99 rank ceil(2.97)=3 -> 10
    assert(got == Seq(("a", 3L, 5L, 10L, 10L)))
  }

  test("interarrivalStats: same-ts ties break on event_id; null rows drop") {
    // type c at 1.0s (ids 7 and 6 tied) then 3.0s: order (ts, event_id)
    // = 6, 7, 8 -> gaps [0, 2]; null ts / type / id rows are excluded.
    val ev = Seq(
      (Some(7L), 1L, Some(tsMs(1000L)), Some("c"), 1.0),
      (Some(6L), 1L, Some(tsMs(1000L)), Some("c"), 1.0),
      (Some(8L), 1L, Some(tsMs(3000L)), Some("c"), 1.0),
      (None, 1L, Some(tsMs(2000L)), Some("c"), 1.0),
      (Some(9L), 1L, None, Some("c"), 1.0),
      (Some(10L), 1L, Some(tsMs(4000L)), None, 1.0))
      .toDF("event_id", "user_id", "ts", "event_type", "value")
    val got = Events.interarrivalStats(ev)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    // n=2 sorted gaps [0,2]: p50 rank ceil(1.0)=1 -> 0,
    // p90 rank ceil(1.8)=2 -> 2, p99 rank ceil(1.98)=2 -> 2
    assert(got == Seq(("c", 2L, 0L, 2L, 2L)))
  }
}
