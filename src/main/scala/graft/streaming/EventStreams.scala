package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming operators over the `events` table — the
  * streaming twins of [[graft.queries.EventOps]]'s batch queries (the
  * reference is batch-only; its progress callbacks E12 are the closest
  * analogue, SURVEY.md §2.3 declares the streaming surface as the
  * scale extension).
  *
  * Design: every transform is defined once against an unbounded
  * DataFrame and works identically under `readStream` (incremental,
  * watermarked state eviction) and `read` (batch backfill) — the
  * standard kappa-architecture posture. Watermarks bound state at
  * 100 TB/day event volumes; without them windowed state grows without
  * limit.
  */
object EventStreams {

  /** events schema (ts already micros — the nanos conversion happens at
    * ingest, mirroring Catalog.t).
    */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-source stream over a directory of event parquet (each file =
    * one micro-batch in tests; in production a Kafka source drops in —
    * same downstream plan).
    */
  def readEventStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(dir)

  /** Tumbling 1-hour windowed aggregation with a 10-minute watermark:
    * counts + value sums per (window, event_type); late events beyond
    * the watermark are dropped, closed windows emit once (append mode).
    */
  def tumblingHourly(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.queries.Catalog.dsum(col("value")).as("total_value"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"),
        col("total_value"))

  /** Streaming OHLC bars — e20's downsampling as a watermarked
    * windowed aggregate. Open/close use min_by/max_by over the UNIQUE
    * (ts, event_id) struct key: an incremental aggregate (one candidate
    * row of state per window — append-mode friendly, unlike a
    * row_number pick, which is not a streaming aggregate at all), and
    * because the key is unique it selects exactly the row e20's batch
    * row_number picks — asserted in StreamingSpec. Closed windows emit
    * once; the live bar stays open until the watermark passes it, which
    * is precisely how a market-data feed publishes bars.
    */
  def ohlcBars(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        min_by(col("value"), struct(col("ts"), col("event_id")))
          .as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), struct(col("ts"), col("event_id")))
          .as("close"),
        count(lit(1)).as("n_events"))
      .select(col("window.start").as("ws"), col("event_type"),
        col("open"), col("high"), col("low"), col("close"),
        col("n_events"))

  /** Session windows (30-minute gap) per user under a watermark. */
  def userSessions(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"))

  /** Exactly-once event dedup: drop duplicate event_ids arriving within
    * the watermark horizon (at-least-once sources re-deliver; state is
    * bounded by the watermark).
    */
  def dedupedEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream interval join: views matched to the same user's
    * purchases within the following hour. Both sides carry watermarks so
    * the join state is bounded — a view older than watermark+1h can
    * never match a future purchase and is evicted; the time-range
    * predicate is what makes state eviction possible at all (an
    * unbounded-condition stream-stream join would grow state forever).
    * Inner-join matches emit immediately, so batch and stream agree
    * exactly (the kappa check in StreamingSpec).
    */
  def viewPurchaseJoin(views: DataFrame, purchases: DataFrame): DataFrame = {
    val v = views.select(col("user_id"), col("ts").as("view_ts"))
      .withWatermark("view_ts", "10 minutes")
    val p = purchases.select(col("user_id").as("p_user"),
      col("ts").as("purchase_ts"), col("value"))
      .withWatermark("purchase_ts", "10 minutes")
    v.join(p, expr("""p_user = user_id
        AND purchase_ts >= view_ts
        AND purchase_ts <= view_ts + INTERVAL 1 HOUR"""))
      .select(col("user_id"), col("view_ts"), col("purchase_ts"),
        col("value"))
  }

  /** LEFT OUTER variant of [[viewPurchaseJoin]] — the "which views
    * did NOT convert" question, which the inner join cannot answer.
    * Semantics matter at scale: a matched row emits immediately, but
    * a null-padded row can only emit once the WATERMARK has passed
    * `view_ts + 1h + delay` — before that, a matching purchase could
    * still arrive, so the engine must hold the view in state. Two
    * consequences the StreamingSpec test pins down: (1) null rows
    * arrive late relative to their matched peers (state is evicted →
    * emitted, not dropped), and (2) views inside the final
    * watermark horizon of a finite stream are withheld forever — the
    * trailing-tail caveat every kappa-architecture report query has
    * to account for (the batch twin emits them; the difference IS
    * the horizon).
    */
  def viewPurchaseLeftJoin(views: DataFrame,
      purchases: DataFrame): DataFrame = {
    val v = views.select(col("user_id"), col("ts").as("view_ts"))
      .withWatermark("view_ts", "10 minutes")
    val p = purchases.select(col("user_id").as("p_user"),
      col("ts").as("purchase_ts"), col("value"))
      .withWatermark("purchase_ts", "10 minutes")
    v.join(p, expr("""p_user = user_id
        AND purchase_ts >= view_ts
        AND purchase_ts <= view_ts + INTERVAL 1 HOUR"""), "leftOuter")
      .select(col("user_id"), col("view_ts"), col("purchase_ts"),
        col("value"))
  }

  /** Parse-with-quarantine (dead-letter routing): typed JSON parse of
    * the props column; rows whose props fail to parse land in the
    * quarantine side with the raw payload preserved, good rows carry
    * the typed struct. One pass, one filter each — corrupt records
    * never kill a 100 TB job, and the quarantine table is replayable
    * after a parser fix. Works identically on batch and stream inputs.
    */
  def parseWithQuarantine(events: DataFrame,
      propsSchema: StructType = StructType(Seq(
        StructField("k", LongType)))): (DataFrame, DataFrame) = {
    val parsed = events.withColumn("__p",
      from_json(col("props"), propsSchema))
    // from_json yields null (or an all-null struct) on corrupt input;
    // treat "props present but unparseable" as quarantine
    val bad = parsed.filter(col("props").isNotNull &&
      (col("__p").isNull || to_json(col("__p")) === "{}"))
      .drop("__p")
    val good = parsed.filter(col("__p").isNotNull &&
      to_json(col("__p")) =!= "{}")
    (good, bad)
  }

  // --- custom state: per-user anomaly tracking ---------------------------

  final case class UserEvent(event_id: Long, ts: java.sql.Timestamp,
      user_id: Long, event_type: String, value: Double)
  final case class UserState(nEvents: Long, nErrors: Long,
      totalValue: Double)
  final case class UserAlert(user_id: Long, nEvents: Long, nErrors: Long,
      errorRate: Double)

  /** Stateful per-user error-rate monitor via flatMapGroupsWithState:
    * keeps a running (events, errors, value) per user, emits an alert
    * row whenever the updated error rate exceeds `threshold` with at
    * least `minEvents` observed. State lives per key across
    * micro-batches — the KeyValueGroupedDataset custom-state surface.
    */
  def errorRateAlerts(events: Dataset[UserEvent], threshold: Double = 0.5,
      minEvents: Long = 5): Dataset[UserAlert] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserState, UserAlert](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[UserEvent],
         state: GroupState[UserState]) =>
          var s = state.getOption.getOrElse(UserState(0L, 0L, 0.0))
          batch.foreach { e =>
            s = UserState(s.nEvents + 1,
              s.nErrors + (if (e.event_type == "error") 1 else 0),
              s.totalValue + e.value)
          }
          state.update(s)
          val rate =
            if (s.nEvents == 0) 0.0 else s.nErrors.toDouble / s.nEvents
          if (s.nEvents >= minEvents && rate > threshold)
            Iterator(UserAlert(userId, s.nEvents, s.nErrors, rate))
          else Iterator.empty
      }
  }

  /** errorRateAlerts on Spark 4's NEW arbitrary-state API
    * (`transformWithState` / [[ErrorRateProcessor]]) — identical
    * emission semantics to the flatMapGroupsWithState version above,
    * expressed against the API generation that adds composable typed
    * state variables, timers and TTL (and REQUIRES the RocksDB state
    * store — the v2 state engine). StreamingSpec asserts the two
    * generations emit the same alerts on the same stream; at 100 TB
    * state this is the surface new stateful operators should target.
    */
  def errorRateAlertsTws(events: Dataset[UserEvent],
      threshold: Double = 0.5, minEvents: Long = 5): Dataset[UserAlert] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(
        new ErrorRateProcessor(threshold, minEvents),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
  }

  /** The StatefulProcessor behind [[errorRateAlertsTws]]: one
    * ValueState[UserState] per user (the same running census the
    * classic version keeps in GroupState), alert emitted when the
    * cumulative error rate crosses the threshold with enough events.
    */
  final class ErrorRateProcessor(threshold: Double, minEvents: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, UserEvent, UserAlert] {
    @transient private var st:
      org.apache.spark.sql.streaming.ValueState[UserState] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[UserState]("user_state",
        org.apache.spark.sql.Encoders.product[UserState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(userId: Long,
        rows: Iterator[UserEvent],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[UserAlert] = {
      var s = if (st.exists()) st.get() else UserState(0L, 0L, 0.0)
      rows.foreach { e =>
        s = UserState(s.nEvents + 1,
          s.nErrors + (if (e.event_type == "error") 1 else 0),
          s.totalValue + e.value)
      }
      st.update(s)
      val rate =
        if (s.nEvents == 0) 0.0 else s.nErrors.toDouble / s.nEvents
      if (s.nEvents >= minEvents && rate > threshold)
        Iterator(UserAlert(userId, s.nEvents, s.nErrors, rate))
      else Iterator.empty
    }
  }

  final case class TypeSketch(event_type: String, mins: Array[Long])

  /** Streaming KMV distinct-user sketch per event type — the streaming
    * face of q71's mergeable-sketch algebra. The per-key state IS the
    * KmvMinSet buffer (a bounded sorted array of ≤ k longs), folded
    * incrementally via the same `reduce` the batch Aggregator uses, so
    * the snapshot after ANY prefix of micro-batches equals the batch
    * sketch of the same rows — that is the mergeability contract made
    * operational: batch backfill and streaming ingestion produce
    * bit-identical sketches, and a downstream q71-style union/
    * intersection works on either. State per key is k·8 bytes,
    * regardless of stream length — no watermark needed because the
    * state is a bounded summary, not a row buffer.
    */
  def distinctUserSketch(events: Dataset[UserEvent],
      k: Int = 64): Dataset[TypeSketch] = {
    val spark = events.sparkSession
    import spark.implicits._
    val agg = new graft.functions.KmvMinSet(k)
    events
      .groupByKey(_.event_type)
      .mapGroupsWithState[Array[Long], TypeSketch](
        GroupStateTimeout.NoTimeout) {
        (tpe: String, batch: Iterator[UserEvent],
         state: GroupState[Array[Long]]) =>
          var buf = state.getOption.getOrElse(agg.zero)
          batch.foreach { e =>
            buf = agg.reduce(buf,
              graft.functions.PortableHash.h60(s"kmvu_${e.user_id}"))
          }
          state.update(buf)
          TypeSketch(tpe, buf)
      }
  }

  final case class HourCount(h: Long, n: Long)
  final case class AnomState(pending: Seq[HourCount],
      buffer: Seq[HourCount])
  final case class HourFlag(event_type: String, h: Long, n: Long,
      flag: Boolean)

  /** Streaming twin of e17's rolling 3σ anomaly monitor: per
    * event_type, state is the trailing 24 CLOSED hourly counts (the
    * same 24-PRESENT-rows window as the batch ROWS BETWEEN 24
    * PRECEDING AND 1 PRECEDING frame) plus the still-open hour's
    * partial count — ≤25 rows per key regardless of stream length, a
    * bounded summary like the KMV/CMS states. An hour CLOSES when a
    * strictly later hour for the same key arrives (the spec feeds
    * micro-batches in event-time order; a production deployment closes
    * on the watermark instead, same downstream arithmetic); at close
    * it is scored against the buffer with e17's exact integer test
    * ((24·n − S)² > 9·(24·Σn² − S²) — no mean/σ computed) and joins
    * the buffer. Emissions are exactly the batch query's scored rows
    * for closed hours — asserted row-identical in StreamingSpec
    * against EventOps.anomalyScoredHours (one shared definition).
    */
  def rollingAnomalies(events: Dataset[UserEvent]): Dataset[HourFlag] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[AnomState, HourFlag](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (typ: String, it: Iterator[UserEvent],
         state: GroupState[AnomState]) =>
          val st = state.getOption.getOrElse(AnomState(Seq.empty, Seq.empty))
          val pending = scala.collection.mutable.Map(
            st.pending.map(p => p.h -> p.n): _*)
          it.foreach { e =>
            val h = e.ts.getTime / 3600000L
            pending(h) = pending.getOrElse(h, 0L) + 1L
          }
          if (pending.isEmpty) Iterator.empty
          else {
            val maxH = pending.keys.max
            val closed = pending.toSeq.filter(_._1 < maxH).sortBy(_._1)
            var buf = st.buffer
            val out = Seq.newBuilder[HourFlag]
            closed.foreach { case (h, n) =>
              if (buf.size == 24) {
                val s1 = buf.iterator.map(_.n).sum
                val s2 = buf.iterator.map(c => c.n * c.n).sum
                val dev = 24L * n - s1
                out += HourFlag(typ, h, n,
                  dev * dev > 9L * (24L * s2 - s1 * s1))
              }
              buf = (buf :+ HourCount(h, n)).takeRight(24)
            }
            state.update(AnomState(
              Seq(HourCount(maxH, pending(maxH))), buf))
            out.result().iterator
          }
      }
  }

  final case class TransState(lastType: String, lastUs: Long)
  final case class TransRow(from_type: String, to_type: String)

  /** Streaming twin of e22's session path transitions: per user,
    * state is ONE row — the open session's last (event_type, ts µs).
    * Each arriving event either continues the session (emit last→this)
    * or closes it on a >30-min µs-exact gap (emit last→END, then
    * START→this — e22's absorbing states, the same strict integer gap
    * test). Events are sorted (ts, event_id) within each micro-batch;
    * cross-batch order comes from the feed (production: watermark +
    * event-time ordering per key). The final open session's last→END
    * never emits (no later event closes it) — StreamingSpec compares
    * against the batch census with exactly those rows withheld, the
    * anomaly twin's horizon convention.
    */
  def pathTransitions(events: Dataset[UserEvent]): Dataset[TransRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TransState, TransRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, it: Iterator[UserEvent],
         state: GroupState[TransState]) =>
          // µs-exact epoch: getTime is millis (nanos truncated), the
          // sub-ms micros ride in getNanos — same precision as the
          // batch side's unix_micros
          def usOf(t: java.sql.Timestamp): Long =
            t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
          val sorted = it.toArray.sortBy(e => (usOf(e.ts), e.event_id))
          val out = Seq.newBuilder[TransRow]
          var cur = state.getOption.orNull
          sorted.foreach { e =>
            val us = usOf(e.ts)
            if (cur == null) {
              out += TransRow("START", e.event_type)
            } else if (us - cur.lastUs > 1800000000L) {
              out += TransRow(cur.lastType, "END")
              out += TransRow("START", e.event_type)
            } else {
              out += TransRow(cur.lastType, e.event_type)
            }
            cur = TransState(e.event_type, us)
          }
          if (cur != null) state.update(cur)
          out.result().iterator
      }
  }

  final case class TwapState(lastType: String, lastUs: Long,
      lastValue: Double)
  final case class IntervalRow(event_type: String, dur_s: Long,
      value: Double)

  /** Streaming twin of e26's time-weighted average: per user, state is
    * the open interval — the last event's (type, µs, value). Each
    * arriving event CLOSES the previous interval (emit the held value
    * with its whole-second duration, e26's integer-div semantics) and
    * opens its own. The per-user final interval never emits (no later
    * event closes it) — exactly the rows the batch query's
    * lead-IS-NULL filter drops, so the emitted interval multiset
    * equals the batch one with NO withheld-row adjustment (asserted in
    * StreamingSpec). Downstream TWA is then the same Σ(v·dur)/Σ(dur)
    * fold over identical rows. State is one fixed-size row per user —
    * bounded, watermark-free by the same argument as pathTransitions.
    */
  def twapIntervals(events: Dataset[UserEvent]): Dataset[IntervalRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TwapState, IntervalRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, it: Iterator[UserEvent],
         state: GroupState[TwapState]) =>
          def usOf(t: java.sql.Timestamp): Long =
            t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
          val sorted = it.toArray.sortBy(e => (usOf(e.ts), e.event_id))
          val out = Seq.newBuilder[IntervalRow]
          var cur = state.getOption.orNull
          sorted.foreach { e =>
            val us = usOf(e.ts)
            if (cur != null && us < cur.lastUs) {
              // Cross-batch late arrival: an event older than the open
              // interval would emit a NEGATIVE duration and silently
              // corrupt the downstream Σ(v·dur)/Σ(dur) fold. The
              // documented contract is in-order per user across
              // batches; enforce it explicitly by dropping the late
              // event (the open interval stays authoritative).
            } else {
              if (cur != null)
                out += IntervalRow(cur.lastType,
                  (us - cur.lastUs) / 1000000L, cur.lastValue)
              cur = TwapState(e.event_type, us, e.value)
            }
          }
          if (cur != null) state.update(cur)
          out.result().iterator
      }
  }

  final case class HoltState(openDay: Long, openCnt: Long, nDays: Long,
      l: Double, b: Double, sse: Double)
  final case class HoltRow(event_type: String, n_days: Long,
      level: Double, trend: Double, sse: Double)

  /** Streaming twin of e28's Holt linear-trend smoothing: per
    * event_type, state is the OPEN day's (day, count) plus the Holt
    * (l, b, sse, n_days) over CLOSED days. An event for a later day
    * closes the open day — its count folds through the α = β = 0.5
    * recurrence in exactly the batch query's operation order — and
    * emits the post-fold state, so the emitted rows are the Holt
    * TRAJECTORY, one row per closed day, and the last row per type
    * equals e28 computed over the closed-day prefix (the open day can
    * never fold — e28's final list element is the only difference,
    * asserted in StreamingSpec). Cross-batch events for days at or
    * before the open day would corrupt the order-sensitive recurrence
    * backwards — dropped explicitly (the twapIntervals in-order
    * contract). State is one fixed-size row per event type — bounded,
    * watermark-free.
    */
  def holtDaily(events: Dataset[UserEvent]): Dataset[HoltRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[HoltState, HoltRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (typ: String, it: Iterator[UserEvent],
         state: GroupState[HoltState]) =>
          def usOf(t: java.sql.Timestamp): Long =
            t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
          val days = it.toArray.map(e => usOf(e.ts) / 86400000000L).sorted
          val out = Seq.newBuilder[HoltRow]
          var st = state.getOption
            .getOrElse(HoltState(-1L, 0L, 0L, 0.0, 0.0, 0.0))
          def close(): Unit = {
            val y = st.openCnt.toDouble
            st = if (st.nDays == 0L)
              st.copy(nDays = 1L, l = y, b = 0.0, sse = 0.0)
            else {
              val nl = 0.5 * y + 0.5 * (st.l + st.b)
              val nb = 0.5 * (nl - st.l) + 0.5 * st.b
              val nsse = st.sse +
                (y - (st.l + st.b)) * (y - (st.l + st.b))
              st.copy(nDays = st.nDays + 1L, l = nl, b = nb, sse = nsse)
            }
            out += HoltRow(typ, st.nDays, st.l, st.b, st.sse)
          }
          days.foreach { day =>
            if (st.openDay == -1L) st = st.copy(openDay = day, openCnt = 1L)
            else if (day == st.openDay)
              st = st.copy(openCnt = st.openCnt + 1L)
            else if (day > st.openDay) {
              close()
              st = st.copy(openDay = day, openCnt = 1L)
            }
            // day < openDay: late cross-batch arrival — dropped (would
            // rewrite an already-folded day)
          }
          state.update(st)
          out.result().iterator
      }
  }

  final case class HwState(openDay: Long, openCnt: Long,
      warm: Seq[Double], nDays: Long, l: Double, b: Double,
      seas: Seq[Double], sse: Double)
  final case class HwRow(event_type: String, n_days: Long,
      level: Double, trend: Double, s_next: Double, sse: Double)

  /** Streaming twin of e30's Holt-Winters additive-seasonal smoothing
    * (α = β = γ = 0.5, m = 7): per event_type, state is the open
    * day's (day, count), the ≤7-element warm-up buffer, and after
    * initialization the (l, b, rotating 7-slot seasonal list, sse).
    * Day closures replay e30's EXACT operation order — the first
    * seven closed days initialize l₀ = left-fold-mean / sᵢ = yᵢ − l₀
    * exactly as the batch slice-fold does, later closures run the
    * rotating-slot recurrence — so the emitted trajectory row after
    * closed day n ≥ 8 is bit-identical to e30's fold over that
    * prefix (asserted in StreamingSpec). s_next is the seasonal slot
    * the NEXT day will consume (= the h = 1 forecast component).
    * Late cross-batch days are dropped (the twapIntervals in-order
    * contract); state is one bounded row per type (2 longs +
    * ≤7+7 doubles), watermark-free.
    */
  def holtWintersDaily(events: Dataset[UserEvent]): Dataset[HwRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[HwState, HwRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (typ: String, it: Iterator[UserEvent],
         state: GroupState[HwState]) =>
          def usOf(t: java.sql.Timestamp): Long =
            t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
          val days = it.toArray.map(e => usOf(e.ts) / 86400000000L).sorted
          val out = Seq.newBuilder[HwRow]
          var st = state.getOption
            .getOrElse(HwState(-1L, 0L, Nil, 0L, 0.0, 0.0, Nil, 0.0))
          def close(): Unit = {
            val y = st.openCnt.toDouble
            if (st.nDays < 7L) {
              val warm = st.warm :+ y
              st =
                if (warm.length == 7) {
                  // e30's init in the batch operation order: l0 is the
                  // LEFT fold sum / 7.0, seasonal slots are y_i - l0
                  val l0 = warm.foldLeft(0.0)(_ + _) / 7.0
                  st.copy(warm = warm, nDays = 7L, l = l0, b = 0.0,
                    seas = warm.map(_ - l0), sse = 0.0)
                } else st.copy(warm = warm, nDays = st.nDays + 1L)
            } else {
              val sOld = st.seas.head
              val nl = 0.5 * (y - sOld) + 0.5 * (st.l + st.b)
              val nb = 0.5 * (nl - st.l) + 0.5 * st.b
              val ns = 0.5 * (y - nl) + 0.5 * sOld
              val err = y - (st.l + st.b + sOld)
              st = st.copy(nDays = st.nDays + 1L, l = nl, b = nb,
                seas = st.seas.tail :+ ns, sse = st.sse + err * err)
              out += HwRow(typ, st.nDays, st.l, st.b, st.seas.head,
                st.sse)
            }
          }
          days.foreach { day =>
            if (st.openDay == -1L) st = st.copy(openDay = day, openCnt = 1L)
            else if (day == st.openDay)
              st = st.copy(openCnt = st.openCnt + 1L)
            else if (day > st.openDay) {
              close()
              st = st.copy(openDay = day, openCnt = 1L)
            }
            // day < openDay: late cross-batch arrival — dropped (would
            // rewrite an already-folded day)
          }
          state.update(st)
          out.result().iterator
      }
  }

  final case class CmsRow(i: Int, counts: Array[Long])

  /** Streaming Count-Min sketch over user activity — x19's heavy-hitter
    * substrate maintained as cross-batch state (the kappa face of the
    * CMS, as distinctUserSketch is of the KMV). The sketch is DEPTH
    * independent counter rows; each row is one mapGroupsWithState key
    * whose state is its width-sized counter array, so rows update in
    * parallel and state per key is width·8 bytes regardless of stream
    * length (a bounded summary — no watermark, same argument as the
    * KMV). Counter addition is commutative+associative, so the
    * snapshot after ANY prefix of micro-batches equals the batch
    * sketch of the same rows — asserted bit-identical in
    * StreamingSpec — and a point estimate min-folds the depth rows
    * exactly as x19's batch query does. Hash params are x19's own
    * (cms_a_i/cms_b_i mod-p permutations), so batch backfill and
    * streaming ingestion produce interchangeable sketches.
    */
  def cmsUserSketch(events: Dataset[UserEvent],
      width: Int = 1024, depth: Int = 4): Dataset[CmsRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    import graft.functions.PortableHash.{P, h60}
    val as = (0 until depth).map(i => h60("cms_a_" + i) % (P - 1) + 1)
    val bs = (0 until depth).map(i => h60("cms_b_" + i) % P)
    events
      .flatMap(e => (0 until depth).map(i => (i, e.user_id)))
      .groupByKey(_._1)
      .mapGroupsWithState[Array[Long], CmsRow](
        GroupStateTimeout.NoTimeout) {
        (i: Int, batch: Iterator[(Int, Long)],
         state: GroupState[Array[Long]]) =>
          val buf = state.getOption.getOrElse(new Array[Long](width))
          batch.foreach { case (_, uid) =>
            val hw = h60(s"cmsu_$uid") % P
            buf((((as(i) * hw + bs(i)) % P) % width).toInt) += 1L
          }
          state.update(buf)
          CmsRow(i, buf)
      }
  }
}
