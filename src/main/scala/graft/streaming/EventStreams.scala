package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** [EXT] Structured Streaming twins of the batch event operators
  * (operators.Events). The reference has no streaming surface at all
  * (SURVEY.md §2.C); these give the engine the readStream → transform →
  * writeStream path a training-data pipeline needs for event feeds.
  *
  * Each transform takes the streaming DataFrame (readStream source with
  * the events schema) and returns the aggregated stream; callers attach
  * their own writeStream sink. Watermarks bound state: at 100 TB/day the
  * state store only holds windows newer than the watermark horizon.
  */
object EventStreams {

  /** File-source readStream over the events parquet layout. The on-disk
    * `ts` encoding has drifted across testdata refreshes (INT64 nanos
    * under nanosAsLong, then plain `timestamp[us]`/NTZ), so the stream
    * schema is NOT hardcoded: it is the batch reader's schema
    * (`graft.Tables.schemaOf`, inferred from the footers whenever the
    * directory's files changed since the last probe) and the `ts`
    * rebuild branches on the actual arrived type via the same normalizer
    * the batch path uses (graft.Tables.normalizeTs).
    * A hardcoded schema here once silently mis-scaled every timestamp
    * by 1000 when the encoding changed — deriving it makes an encoding
    * drift either transparent or a loud schema error, never a silent
    * wrong answer.
    *
    * Probe contract (r8 ADVICE): the directory must hold at least one
    * file when the stream STARTS — the normal deploy-then-feed pattern
    * (an empty dir fails the probe with `declaredSchema` unset, loudly,
    * before any stream state exists). For a feed that truly starts
    * empty, pass `declaredSchema = Some(schema)` with the schema of the
    * files that WILL arrive; mixing encodings within one directory is
    * not supported by parquet's own schema merge and fails the probe
    * rather than half-reading. */
  def readEventStream(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      declaredSchema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    val onDisk = declaredSchema.getOrElse(graft.Tables.schemaOf(spark, dir))
    graft.Tables.normalizeTs(spark.readStream.schema(onDisk).parquet(dir))
  }

  /** MESSAGE-BUS-shaped ingestion (VERDICT r13 "what's missing" #4,
    * the offline-exercisable half): parse line-delimited event records
    * — the wire format a socket/Kafka-class source delivers as a
    * single `value` string column — into the events schema. Line
    * format: `event_id,epoch_millis,user_id,event_type,value` (CSV,
    * no embedded commas by contract). Malformed lines (wrong arity or
    * unparseable numerics under try_cast) land with NULL fields rather
    * than killing the stream — a poison message must not take down a
    * 100 TB/day feed; route `event_id IS NULL` rows to a dead-letter
    * sink downstream.
    *
    * Source-agnostic on purpose: the SAME function serves
    * `readStream.format("socket")` (exercised end-to-end in
    * EventStreamsSpec against a localhost ServerSocket — unbounded,
    * non-replayable, nothing file-shaped), a Kafka `value` column
    * after `CAST(value AS STRING)`, or a batch DataFrame of the same
    * lines (the twin the spec pins parity against). Pure map-side
    * expressions — no shuffle, whole-stage codegen.
    *
    * REPLAY CONTRACT: a socket leg cannot participate in exactly-once
    * recovery — the source offers no offsets to rewind, so rows in
    * flight at a crash are lost with the connection. The production
    * shape stages the feed first (socket → this parser → parquet
    * staging sink), then runs all stateful work off the FILE source
    * over the staging dir, whose checkpointed restart IS exactly-once
    * — composed end-to-end (kill + resume of the stateful leg while
    * the socket keeps feeding) in EventStreamsSpec "socket composes
    * with the restart harness". Kafka-class sources with real offsets
    * may skip the stage. */
  def parseEventLines(lines: DataFrame): DataFrame = {
    val f = split(col("value"), ",")
    lines.select(
      try_element_at(f, lit(1)).try_cast("long").as("event_id"),
      timestamp_millis(try_element_at(f, lit(2)).try_cast("long")).as("ts"),
      try_element_at(f, lit(3)).try_cast("long").as("user_id"),
      try_element_at(f, lit(4)).as("event_type"),
      try_element_at(f, lit(5)).try_cast("double").as("value"))
  }

  /** Dead-letter split for [[parseEventLines]] output: (good, bad).
    * A row is DEAD if any REQUIRED field failed to parse (event_id,
    * ts, user_id — value/event_type may be legitimately null); the bad
    * frame keeps the original line's parsed remnants so the dead-letter
    * sink can triage. Works identically on a stream or a batch frame —
    * pure filters, no state. */
  def deadLetterSplit(parsed: DataFrame): (DataFrame, DataFrame) = {
    val dead = col("event_id").isNull || col("ts").isNull ||
      col("user_id").isNull
    (parsed.filter(!dead), parsed.filter(dead))
  }

  /** Tumbling-window counts/sums per event type (batch twin:
    * Events.tumblingAgg). Watermark allows 10 min of lateness; append
    * mode emits each window once, when it finalizes. */
  def tumblingAgg(events: DataFrame, window_ : String = "1 hour"): DataFrame =
    windowTotals(events, window(col("ts"), window_))

  /** Sliding (hopping) window counts/sums per event type (batch twin:
    * Events.slidingAgg): each event fans out map-side into size/slide
    * windows before the one stateful aggregate; the watermark closes a
    * window once it passes window.end + lateness, so the state store
    * holds only the size/slide currently-open windows per key. */
  def slidingAgg(events: DataFrame, size: String = "1 hour",
      slide: String = "30 minutes"): DataFrame =
    windowTotals(events, window(col("ts"), size, slide))

  /** The batch twins' windowed aggregate over the watermarked stream,
    * keyed by the window's start. */
  private def windowTotals(events: DataFrame, w: Column): DataFrame =
    graft.operators.Events.windowTotals(events.withWatermark("ts", "10 minutes"), w)
      .select(
        col("window.start").as("window_start"),
        col("event_type"), col("n"), col("total_value"))

  /** Gap-based session windows per user (batch twin: Events.sessionize).
    * session_window keeps one open session per key in the state store and
    * closes it when the watermark passes ts + gap. */
  def sessionAgg(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"))

  /** Streaming exact-dedup twin (batch twin: operators.Dedup.exact):
    * drops rows whose key columns repeat within the watermark horizon.
    * dropDuplicatesWithinWatermark bounds the dedup state store to the
    * lateness window — the streaming analogue of the batch rule "never
    * hold unbounded state": at 100 TB/day the state holds only the keys
    * seen in the last `lateness`, evicted as the watermark advances. */
  def dedupStream(events: DataFrame, keyCols: Seq[String],
      lateness: String = "10 minutes", tsCol: String = "ts"): DataFrame = {
    require(keyCols.nonEmpty, "dedupStream needs at least one key column")
    events
      .withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)
  }

  /** Stream-stream interval join (leadup attribution): each purchase is
    * matched to the same user's clicks with click.ts in
    * (purchase.ts − horizon, purchase.ts]. Both sides carry watermarks
    * and the join predicate bounds event-time distance, so Spark can
    * evict join state older than horizon + lateness — the state store
    * holds a sliding window of clicks per user, never the full history.
    * INNER join: matches emit as soon as both sides arrive (append
    * mode), with no dependence on watermark finalization. Batch twin:
    * the ext_interval_join contract query. */
  def leadupJoinStream(events: DataFrame, horizon: String = "10 minutes",
      lateness: String = "10 minutes"): DataFrame = {
    val p = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user"), col("ts").as("p_ts"))
      .withWatermark("p_ts", lateness)
    val c = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"),
        col("user_id").as("c_user"), col("ts").as("c_ts"))
      .withWatermark("c_ts", lateness)
    p.join(c,
      col("c_user") === col("p_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") > col("p_ts") - expr(s"interval $horizon"))
  }

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)
  final case class UserRunning(user_id: Long, n_events: Long, total_value: Double)

  final case class FpHit(fp: Long, doc_id: Long, ts: java.sql.Timestamp)
  final case class FpDup(fp: Long, doc_id: Long, first_doc_id: Long)

  /** Streaming substring near-dup flagger — the incremental twin of
    * Dedup.substringFingerprintPairs: as documents arrive, each explodes
    * map-side into its winnowed Rabin-Karp fingerprints
    * (expressions.WinnowedFingerprints), and per-fingerprint state
    * remembers the FIRST document that carried it; any later document
    * sharing a fingerprint is emitted as (fp, doc_id, first_doc_id) —
    * "this new crawl page substring-overlaps something already in the
    * corpus", without ever re-scanning the corpus.
    *
    * State discipline: keyed by fingerprint (bounded by distinct
    * sampled fingerprints in the horizon, ~len/(modP) per doc), with an
    * event-time timeout at watermark + `horizon` so the store holds a
    * sliding recent-corpus window, never the full history — dedup
    * against ALL history is the batch operator's job. Within a
    * micro-batch, rows sort by doc_id so the surviving "first" is the
    * MIN id — deterministic, matching the batch keeper rule. */
  def substringDupStream(
      docs: DataFrame, idCol: String, textCol: String, tsCol: String = "ts",
      k: Int = 32, modP: Int = 8,
      lateness: String = "10 minutes",
      horizonMs: Long = 3600000L): Dataset[FpDup] = {
    import docs.sparkSession.implicits._
    val hits = docs
      .withWatermark(tsCol, lateness)
      .select(
        explode(graft.functions.expressions.GraftFunctions
          .winnowed_fingerprints(col(textCol), k, modP)).as("fp"),
        col(idCol).as("doc_id"), col(tsCol).as("ts"))
      .as[FpHit]
    hits
      .groupByKey(_.fp)
      .flatMapGroupsWithState[Long, FpDup](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (fp: Long, batch: Iterator[FpHit], state: GroupState[Long]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val rows = batch.toArray
            // a doc can carry the same sampled fingerprint several times
            // in its text — emit at most one FpDup per (fp, doc), the
            // batch twin's .distinct() discipline
            val docIds = rows.map(_.doc_id).distinct.sorted
            var first = state.getOption.getOrElse(Long.MaxValue)
            val out = Array.newBuilder[FpDup]
            docIds.foreach { d =>
              if (first == Long.MaxValue) first = d
              else if (d != first) out += FpDup(fp, d, first)
            }
            state.update(first)
            // expire when the watermark passes last-seen + horizon; NOT
            // watermark + horizon, which on the first micro-batch (wm
            // still 0) would arm a timeout the very next watermark
            // advance blows past
            val maxMs = rows.iterator.map(_.ts.getTime).max
            state.setTimeoutTimestamp(
              math.max(maxMs + horizonMs, state.getCurrentWatermarkMs() + 1))
            out.result().iterator
          }
      }
  }

  final case class FunnelState(times: Array[Long])
  final case class FunnelRow(
      user_id: Long, t1_ms: Long, t2_ms: Long, t3_ms: Long, steps_completed: Long)

  /** Streaming twin of [[graft.operators.Events.funnel]] for a 3-step
    * funnel: per-user earliest strictly-increasing step chain,
    * maintained incrementally in one Long per step of state. Each
    * micro-batch re-folds the user's new events IN TIMESTAMP ORDER into
    * the chain and emits the updated row (Long.MinValue marks an
    * uncompleted step — case-class state can't carry nullable longs
    * without boxing; the spec maps it back to null-equivalence).
    *
    * Caveat vs the batch twin: a chain never un-completes, but a LATE
    * event can only improve step times if it arrives before the fold
    * reaches that step — exactly-batch equivalence holds when each
    * user's events arrive in order across micro-batches (the file
    * source's layout here), the standard trade of incremental funnels.
    * State is 3 longs per user, bounded by the user population. */
  def funnelStream(events: Dataset[Event], steps: Seq[String]): Dataset[FunnelRow] = {
    require(steps.length == 3, "funnelStream is specialized to 3 steps")
    import events.sparkSession.implicits._
    val none = Long.MinValue
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[Event], state: GroupState[FunnelState]) =>
          val t = state.getOption.map(_.times.clone())
            .getOrElse(Array.fill(steps.length)(none))
          batch.toArray.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
            val ms = e.ts.getTime
            var i = 0
            while (i < steps.length) {
              if (e.event_type == steps(i)) {
                val prevOk = i == 0 || (t(i - 1) != none && ms > t(i - 1))
                if (prevOk && (t(i) == none || ms < t(i))) {
                  t(i) = ms
                  // a better earlier step invalidates nothing: later
                  // steps stay — they are still > the improved time
                }
              }
              i += 1
            }
          }
          state.update(FunnelState(t))
          Iterator.single(FunnelRow(uid, t(0), t(1), t(2),
            t.count(_ != none).toLong))
      }
  }

  /** Streaming chunk-dedup screen — the stream-arrival side of
    * [[graft.operators.Dedup.chunkDedup]]: documents arriving on a
    * stream are chunked map-side (chunkWithOverlap is stream-safe) and
    * probed against a STATIC corpus chunk-digest index, emitting one
    * row per arrival chunk already owned by a corpus document. Same
    * stateless stream-static discipline as [[nearDupScreenStream]]:
    * the index is the artifact a deployment persists between drops, the
    * state store holds nothing, replayed micro-batches are idempotent,
    * and the broadcast-hinted join keeps the arrival side shuffle-free.
    * Digests travel, bodies never do. */
  def chunkDupScreenStream(
      arrivals: DataFrame, // streaming (id, text)
      corpus: DataFrame, // static (id, text)
      arrivalId: org.apache.spark.sql.Column,
      arrivalText: org.apache.spark.sql.Column,
      corpusId: org.apache.spark.sql.Column,
      corpusText: org.apache.spark.sql.Column,
      size: Int = 200): DataFrame = {
    import graft.operators.TextPipeline
    val index = TextPipeline
      .chunkWithOverlap(corpus, corpusId, corpusText, size = size, stride = size)
      .groupBy("chunk_md5")
      .agg(min(struct(col("doc_id").as("corpus_id"),
        col("chunk_idx").as("corpus_chunk_idx"))).as("owner"))
      .select(col("chunk_md5"),
        col("owner.corpus_id").as("corpus_id"),
        col("owner.corpus_chunk_idx").as("corpus_chunk_idx"))
    TextPipeline
      .chunkWithOverlap(arrivals, arrivalId, arrivalText, size = size, stride = size)
      .select(col("doc_id").as("arrival_id"), col("chunk_idx"), col("chunk_md5"))
      .join(broadcast(index), Seq("chunk_md5"))
      .select(col("arrival_id"), col("chunk_idx"),
        col("corpus_id"), col("corpus_chunk_idx"))
  }

  /** Streaming twin of [[graft.operators.Dedup.cdcScreen]]: arriving
    * docs are content-defined-chunked MAP-SIDE (the CdcChunks
    * expression runs fine inside a streaming select — stateless), then
    * stream-static joined against the corpus chunk index and scored
    * per doc. Run in UPDATE mode: the per-doc aggregation is keyed on
    * the arrival id, and since all of a doc's chunks come from one
    * arriving row, its verdict FINALIZES in its arrival micro-batch —
    * the aggregation state never receives late rows (Spark still
    * requires an aggregation-capable output mode, hence update, but
    * each key is written exactly once in practice).
    *
    * BOUNDED-INDEX CONTRACT (ADVICE r10): unlike batch
    * [[graft.operators.Dedup.cdcScreen]] — which broadcasts the BATCH
    * keys and only scans the index — this twin broadcasts the corpus
    * chunk index itself, because Spark's stream-static join matrix has
    * no inverse shape (a streaming frame cannot sit on the right of a
    * left-semi/inner join, so "broadcast the micro-batch keys against
    * the index scan" is inexpressible inside one streaming query). The
    * broadcast index must therefore fit in executor memory: distinct
    * chunk digests of the REFERENCE corpus you screen against (16
    * bytes/chunk — ~60 MB per billion distinct chunks after dedup), a
    * curated-corpus artifact, not the raw 100 TB firehose. For an
    * unbounded corpus, run the batch twin inside
    * `writeStream.foreachBatch { (batch, _) => Dedup.cdcScreen(...) }`
    * — each micro-batch then gets exactly the batch discipline (batch
    * keys broadcast, index never shuffled). The same contract applies
    * to [[chunkDupScreenStream]]'s broadcast chunk-owner index.
    *
    * Output: (doc_id, n_chunks, n_known, known_ratio, admitted). */
  def cdcScreenStream(
      arrivals: DataFrame, // streaming (id, text)
      corpus: DataFrame, // static (id, text)
      arrivalId: org.apache.spark.sql.Column,
      arrivalText: org.apache.spark.sql.Column,
      corpusText: org.apache.spark.sql.Column,
      window: Int = 16,
      modB: Int = 32,
      maxKnownRatio: Double = 0.5): DataFrame = {
    import graft.functions.expressions.GraftFunctions
    val index = corpus.where(corpusText.isNotNull)
      .select(explode(GraftFunctions.cdc_chunks(corpusText, window, modB))
        .as("c"))
      .select(col("c.hash").as("chunk_hash"), col("c.len").as("chunk_len"))
      .distinct()
      .withColumn("known", lit(1L))
    arrivals.where(arrivalText.isNotNull)
      .select(arrivalId.as("doc_id"),
        explode(GraftFunctions.cdc_chunks(arrivalText, window, modB)).as("c"))
      .select(col("doc_id"), col("c.hash").as("chunk_hash"),
        col("c.len").as("chunk_len"))
      .join(broadcast(index), Seq("chunk_hash", "chunk_len"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(coalesce(col("known"), lit(0L))).as("n_known"))
      .withColumn("known_ratio",
        col("n_known").cast("double") / col("n_chunks").cast("double"))
      .withColumn("admitted", col("known_ratio") <= maxKnownRatio)
  }

  final case class LastTouch(event_type: String, tsMs: Long)
  final case class Attribution(
      event_id: Long, user_id: Long, converted_at: java.sql.Timestamp,
      attributed_type: Option[String], seconds_before: Option[Long])

  /** Streaming twin of [[graft.operators.Events.lastTouchAttribution]]:
    * ONE (event_type, ts) pair of state per user — the previous event —
    * and each arriving `target` emits its attribution immediately.
    * Same strictly-before rule: the in-batch (ts, event_id) sort means
    * a conversion attributes to its strict predecessor even within one
    * micro-batch, and a same-instant pair resolves by event_id. Beyond
    * the horizon or with no prior at all → attributed_type None
    * ("direct"), emitted, never dropped. Ordering trade as usual
    * ([[funnelStream]]): exact batch parity on per-user in-order
    * feeds. */
  def attributionStream(
      events: Dataset[Event],
      target: String,
      horizonSec: Long = 3600L): Dataset[Attribution] = {
    require(horizonSec > 0, s"horizonSec must be positive, got $horizonSec")
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LastTouch, Attribution](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[Event], state: GroupState[LastTouch]) =>
          var prev = state.getOption.orNull
          val out = scala.collection.mutable.ArrayBuffer.empty[Attribution]
          batch.toArray.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
            if (e.event_type == target) {
              val gapSec =
                if (prev == null) None
                else Some((e.ts.getTime - prev.tsMs) / 1000L)
              val inHorizon = gapSec.exists(_ <= horizonSec)
              out += Attribution(e.event_id, uid, e.ts,
                if (inHorizon) Some(prev.event_type) else None,
                if (inHorizon) gapSec else None)
            }
            prev = LastTouch(e.event_type, e.ts.getTime)
          }
          if (prev != null) state.update(prev)
          out.iterator
      }
  }

  final case class GramState(recent: Array[String])
  final case class GramHit(event_id: Long, user_id: Long, gram: String)

  /** Streaming twin of [[graft.operators.Events.sequenceNgrams]]'s gram
    * EXTRACTION: per-user state is the last n−1 event_types (a bounded
    * String array, FIFO); each arriving event completes at most one
    * gram, emitted with the completing event's id. Counting/top-k stays
    * a downstream streaming aggregation — this stage is the stateful
    * part a window can't express. Same ordering trade as
    * [[funnelStream]]: in-batch events fold in (ts, event_id) order;
    * cross-batch stragglers join the stream where state stands. On
    * per-user in-order feeds the emitted gram multiset equals the
    * batch operator's pre-aggregation gram set (EventStreamsSpec). */
  def sequenceNgramStream(
      events: Dataset[Event],
      n: Int = 3): Dataset[GramHit] = {
    require(n >= 2, s"n must be >= 2, got $n")
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[GramState, GramHit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[Event], state: GroupState[GramState]) =>
          var recent = state.getOption.map(_.recent).getOrElse(Array.empty[String])
          val out = scala.collection.mutable.ArrayBuffer.empty[GramHit]
          batch.toArray.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
            if (recent.length == n - 1)
              out += GramHit(e.event_id, uid,
                (recent :+ e.event_type).mkString(">"))
            recent = (recent :+ e.event_type).takeRight(n - 1)
          }
          state.update(GramState(recent))
          out.iterator
      }
  }

  final case class ZState(recent: Array[Double])
  final case class ZScored(
      event_id: Long, user_id: Long, value: Double,
      n_prior: Long, z: Option[Double], is_anomaly: Boolean)

  /** Streaming twin of [[graft.operators.Events.trailingZScore]]: the
    * per-user baseline (last `lookback` values) lives in state — a
    * bounded Array[Double], evicted FIFO — and each arriving event is
    * scored against it BEFORE being folded in (the same 1-PRECEDING
    * no-self-contamination rule as the batch frame). Arithmetic parity
    * with the batch decimal discipline: Σx quantizes each value to 6dp
    * and Σx² each square to 12dp via BigDecimal (exactly what the
    * batch DECIMAL(18,6)/(28,12) casts do), so on per-user in-order
    * feeds the twins are bit-identical (EventStreamsSpec pins it).
    * Same ordering trade as [[funnelStream]]: in-batch events fold in
    * (ts, event_id) order; cross-batch stragglers score at arrival. */
  def zScoreStream(
      events: Dataset[Event],
      lookback: Int = 5,
      minPrior: Int = 3,
      flagAt: Double = 3.0): Dataset[ZScored] = {
    require(lookback >= minPrior && minPrior >= 2,
      s"need lookback >= minPrior >= 2, got lookback=$lookback minPrior=$minPrior")
    import events.sparkSession.implicits._
    def q(x: Double, s: Int): BigDecimal =
      BigDecimal(x).setScale(s, BigDecimal.RoundingMode.HALF_UP)
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[ZState, ZScored](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[Event], state: GroupState[ZState]) =>
          var recent = state.getOption.map(_.recent.toVector).getOrElse(Vector.empty)
          val out = scala.collection.mutable.ArrayBuffer.empty[ZScored]
          batch.toArray.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
            val n = recent.length
            val z =
              if (n >= minPrior) {
                val sx = recent.map(q(_, 6)).sum.toDouble
                val sxx = recent.map(v => q(v * v, 12)).sum.toDouble
                val variance = (sxx - sx * sx / n) / (n - 1)
                if (variance > 0)
                  Some(q((e.value - sx / n) / math.sqrt(variance), 6).toDouble)
                else None
              } else None
            out += ZScored(e.event_id, uid, e.value, n.toLong, z,
              z.exists(zz => math.abs(zz) >= flagAt))
            recent = (recent :+ e.value).takeRight(lookback)
          }
          state.update(ZState(recent.toArray))
          out.iterator
      }
  }

  final case class ScdState(version: Long, attr: String)
  final case class ScdChange(
      user_id: Long, version: Long, attr_value: String,
      valid_from: java.sql.Timestamp)

  /** Streaming twin of [[graft.operators.Scd.scd2]]: per-entity
    * run-length-collapsed attribute versions, emitted AS THE CHANGES
    * HAPPEN — the append-mode CDC feed a warehouse tails to maintain the
    * Type-2 dimension incrementally (each emitted version v implicitly
    * closes v−1 at its valid_from; the batch operator materializes that
    * same closure as valid_to).
    *
    * State is ONE (version, attr) pair per entity — bounded by the
    * entity population, independent of history length. Same ordering
    * trade as [[funnelStream]]: within a micro-batch events fold in
    * (ts, event_id) order, so batch-equivalence holds when each
    * entity's events arrive in order ACROSS micro-batches (the file
    * source's layout); a late cross-batch straggler would version at
    * arrival order, which is the standard incremental-SCD trade. */
  def scdStream(events: Dataset[Event]): Dataset[ScdChange] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[ScdState, ScdChange](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[Event], state: GroupState[ScdState]) =>
          var st = state.getOption.orNull
          val out = scala.collection.mutable.ArrayBuffer.empty[ScdChange]
          batch.toArray.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
            if (st == null || st.attr != e.event_type) {
              val v = if (st == null) 1L else st.version + 1L
              st = ScdState(v, e.event_type)
              out += ScdChange(uid, v, e.event_type, e.ts)
            }
          }
          if (st != null) state.update(st)
          out.iterator
      }
  }

  final case class UserSilence(
      user_id: Long, last_seen: java.sql.Timestamp, silence_at: java.sql.Timestamp)

  /** Silence/gap detector — the streaming twin of
    * [[graft.operators.Events.resampleFill]]'s gap handling, and the one
    * stateful pattern the other twins don't exercise: output born from a
    * TIMER, not from data. Per user the state holds the last event time;
    * a gap is reported in two ways:
    *
    *  - REAPPEARANCE: a user returning after more than `gapMs` of
    *    event-time silence emits the closed gap immediately with its
    *    arriving batch;
    *  - OPEN FRONTIER: a user who simply stops emits once the event-time
    *    watermark passes last_seen + gapMs — the timeout itself produces
    *    the row ("this feed went quiet"), then clears the state, so a
    *    firing costs nothing for users who never return.
    *
    * `silence_at` = last_seen + gapMs on both paths — a pure function of
    * the data, so results don't depend on micro-batch boundaries. State
    * is ONE long per active user, evicted on firing — bounded by the
    * currently-active population, never history (100 TB/day discipline:
    * historical gap-fill is the batch operator's job). */
  def silenceGaps(
      events: Dataset[Event], gapMs: Long,
      lateness: String = "10 minutes"): Dataset[UserSilence] = {
    import events.sparkSession.implicits._
    require(gapMs > 0)
    events
      .withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Long, UserSilence](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, batch: Iterator[Event], state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            val last = state.get
            state.remove()
            Iterator.single(UserSilence(uid,
              new java.sql.Timestamp(last), new java.sql.Timestamp(last + gapMs)))
          } else {
            val times = batch.map(_.ts.getTime).toArray.sorted
            val out = Array.newBuilder[UserSilence]
            var last = state.getOption.getOrElse(Long.MinValue)
            times.foreach { t =>
              // reappearance after a closed gap — report it with the data
              if (last != Long.MinValue && t - last > gapMs)
                out += UserSilence(uid,
                  new java.sql.Timestamp(last), new java.sql.Timestamp(last + gapMs))
              if (t > last) last = t
            }
            state.update(last)
            // arm the frontier timer; never at-or-behind the watermark
            // (same guard as substringDupStream)
            state.setTimeoutTimestamp(
              math.max(last + gapMs, state.getCurrentWatermarkMs() + 1))
            out.result().iterator
          }
      }
  }

  /** Streaming near-dup screening — the streaming twin of
    * [[graft.operators.Dedup.incrementalNearDup]]: documents arriving on
    * a stream are screened against a STATIC corpus, emitting
    * (batch_id, corpus_id, jaccard) for every arrival within `threshold`
    * of a corpus document, micro-batch by micro-batch. The signature,
    * band layout, corpus index, estimate prefilter and exact verify are
    * Dedup's; only the stream-specific parts live here.
    *
    * Design: STATELESS stream-static joins, not stateful stream state —
    * the corpus is fixed between drops (the persisted LSH index a real
    * deployment maintains), so the state store has nothing to remember:
    * each arrival explodes map-side into its band hashes, probes the
    * broadcast corpus index, is prefiltered on signature agreement, and
    * only then rehydrates the corpus text for the exact n-gram Jaccard
    * gate. An empty state store also means no watermark is required and
    * a replayed micro-batch is trivially idempotent.
    *
    * The batch twin's dropDuplicates (a pair can collide in several
    * bands) is stateful on a stream, so duplicates are instead cut
    * statelessly: both signatures are in hand after the index probe, so
    * each candidate keeps only the row whose band is the FIRST band the
    * two signatures agree on — exactly one row per (arrival, corpus) pair
    * survives, no state, no shuffle.
    *
    * 100 TB shape: the arrival side never shuffles — the index and
    * signature tables are broadcast (hinted), so candidate generation and
    * the prefilter are map-side over the stream; arrival text rides its
    * own row (map-local, never shuffled). The corpus-text join at the
    * verify stage sees only prefilter survivors. A corpus index too big
    * to broadcast is the regime where per-drop BATCH screening is the
    * right tool — this twin covers the streaming-arrival side of that
    * pipeline. Hot corpus buckets are capped at `bucketCap` (degenerate
    * boilerplate clusters, exact-dedup territory); the drop and the
    * prefilter's culls are reported in the stream's observed metrics. */
  def nearDupScreenStream(
      arrivals: DataFrame, // streaming (id, text)
      corpus: DataFrame, // static (id, text)
      arrivalId: org.apache.spark.sql.Column,
      arrivalText: org.apache.spark.sql.Column,
      corpusId: org.apache.spark.sql.Column,
      corpusText: org.apache.spark.sql.Column,
      shingleN: Int = 5,
      numHashes: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.5,
      seed: Long = 42L,
      bucketCap: Int = 1000,
      estimateMargin: Double = 0.15): DataFrame = {
    import graft.operators.Dedup
    // static corpus index: (band, bhash, corpus_id) + (corpus_id, sig)
    val corpusSigs = Dedup.minhashSigs(
      corpus, corpusId, corpusText, "corpus_id", shingleN, numHashes, seed)
    val index = Dedup.minhashIndexBands(
      corpusSigs, numHashes, bands, bucketCap, "neardup_stream")

    // stream side: signature computed ONCE per row (carried inside the
    // exploded struct), text rides the row
    val arrBands = arrivals
      .select(arrivalId.as("batch_id"), arrivalText.as("txt_l"))
      .select(col("batch_id"), col("txt_l"),
        explode(Dedup.bandStructs(
          graft.functions.expressions.GraftFunctions
            .minhash_sig(col("txt_l"), shingleN, numHashes, seed),
          numHashes, bands, sig => Seq(sig.as("sig_l")))).as("bb"))
      .select(col("batch_id"), col("txt_l"), col("bb.sig_l").as("sig_l"),
        col("bb.band").as("band"), col("bb.bhash").as("bhash"))

    def bandAt(sig: String, b: Int) = Dedup.bandHash(col(sig), b, numHashes, bands)
    val candidates = arrBands
      .join(broadcast(index), Seq("band", "bhash")) // map-side probe
      .join(broadcast(corpusSigs.withColumnRenamed("sig", "sig_r")), Seq("corpus_id"))
      // stateless pair-dedup (scaladoc): first agreeing band wins
      .filter(col("band") === array_min(array((0 until bands).map { b =>
        when(bandAt("sig_l", b) === bandAt("sig_r", b), lit(b))
      }: _*)))
    Dedup.verifyJaccard(
      Dedup.estimatePrefilter(candidates, numHashes,
        threshold - estimateMargin, "neardup_stream"),
      "batch_id", "corpus_id", None,
      corpus.select(corpusId.as("corpus_id"), corpusText.as("txt_r")), // texts only for survivors
      shingleN, threshold)
  }

  /** Custom state: running per-user totals via flatMapGroupsWithState —
    * the escape hatch when built-in windows can't express the state
    * machine. Emits an updated running row per user per micro-batch. */
  def runningTotals(events: Dataset[Event]): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserRunning, UserRunning](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[Event], state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(uid, 0L, 0.0))
          var n = prev.n_events
          var tot = prev.total_value
          batch.foreach { e => n += 1; tot += e.value }
          val next = UserRunning(uid, n, tot)
          state.update(next)
          Iterator.single(next)
      }
  }

  /** Streaming drift monitor (batch twin: operators.Drift.psi): the
    * CURRENT stream's per-bucket counts under fixed split literals —
    * one bounded-state aggregation (state ≤ splits+1 rows regardless
    * of stream length, like the CMS grid), legal as the single
    * streaming aggregation, complete-mode emitted. Feed the emitted
    * table plus a STATIC baseline count table (Drift.bucketCounts on
    * the reference snapshot) through Drift.psiFromCounts — the
    * identical counts→PSI arithmetic, so batch and stream can never
    * fork (the kmvSketch/kmvEstimate precedent; EventStreamsSpec pins
    * parity across micro-batches). */
  def driftBucketStream(
      current: org.apache.spark.sql.DataFrame,
      value: org.apache.spark.sql.Column,
      splits: Seq[Double]): org.apache.spark.sql.DataFrame =
    graft.operators.Drift.bucketCounts(current, value, splits, "n_cur")
}
