package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import Catalog._

/** Event-stream operators in their batch form: tumbling / sliding /
  * session windows and JSON extraction over `events`. The streaming
  * twins (readStream + watermark on the identical transforms) live in
  * [[graft.streaming.EventStreams]] and are exercised by the streaming
  * test suite — batch and stream share the window semantics, so the
  * DuckDB oracle on the batch form also validates the streaming logic.
  */
object EventOps {

  /** e17's scored hours — (event_type, ws, n, flag) for every hourly
    * row with a full 24-row trailing window, the |n − S/w| > 3σ test
    * rearranged to pure integers ((w·n − S)² > 9·(w·Σn² − S²)). One
    * definition for the batch query and the streaming-twin equivalence
    * assertion (StreamingSpec), the labelProp no-drift precedent.
    */
  private[graft] def anomalyScoredHours(
      ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hourly = ev
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("ws"))
      .agg(count(lit(1)).as("n"))
    val w24 = Window.partitionBy(col("event_type")).orderBy(col("ws"))
      .rowsBetween(-24, -1)
    val dev = col("wcnt") * col("n") - col("s1")
    hourly
      .withColumn("wcnt", count(lit(1)).over(w24))
      .withColumn("s1", sum(col("n")).over(w24))
      .withColumn("s2", sum(col("n") * col("n")).over(w24))
      .filter(col("wcnt") === 24)
      .withColumn("flag",
        dev * dev > lit(9) * (col("wcnt") * col("s2") -
          col("s1") * col("s1")))
      .select(col("event_type"), col("ws"), col("n"), col("flag"))
  }

  /** Gap-sessionized events: adds `sid` (per-user session ordinal, new
    * session after a >30-min µs-exact gap — the strict integer test;
    * an interval test against seconds-truncated diffs can disagree at
    * the boundary). One definition for e22's transition census and
    * e25's journey similarity (the labelProp no-drift precedent).
    */
  private[graft] def sessionized(
      ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wU = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    ev.withColumn("pts", lag(col("ts"), 1).over(wU))
      .withColumn("new_s", when(col("pts").isNull ||
        unix_micros(col("ts")) - unix_micros(col("pts")) >
          1800000000L, 1L).otherwise(0L))
      .withColumn("sid", sum(col("new_s")).over(
        wU.rowsBetween(Window.unboundedPreceding, 0)))
  }

  /** DuckDB twin of [[sessionized]] over `events`: CTEs `ev` (user_id,
    * event_id, event_type, tts = the µs timestamp, then `extraCols`),
    * `o` (adds new_s) and `n` (adds sid).
    */
  private[queries] def sqlSessionized(extraCols: String = ""): String =
    s"""ev AS (
          SELECT user_id, event_id, event_type,
            cast(ts as timestamp) AS tts$extraCols
          FROM events),
        o AS (
          SELECT *, CASE WHEN lag(tts) OVER w IS NULL
              OR epoch_us(tts) - epoch_us(lag(tts) OVER w) > 1800000000
            THEN 1 ELSE 0 END AS new_s
          FROM ev
          WINDOW w AS (PARTITION BY user_id ORDER BY tts, event_id)),
        n AS (
          SELECT *, sum(new_s) OVER (PARTITION BY user_id
            ORDER BY tts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM o)"""

  /** DuckDB twin of [[preferencePairs]]: [[sqlSessionized]] with the
    * integer reward `rw`, then `conv` (per session: reward, n_chars)
    * and `pairs(user_id, pair_sid, later_won, gap, chosen_chars,
    * rejected_chars)`.
    */
  private[queries] val sqlPreferencePairs: String =
    sqlSessionized(""",
            cast(floor(value * 64) as bigint) AS rw""") + """,
        conv AS (
          SELECT user_id, sid,
            cast(sum(rw) as bigint) AS reward,
            cast(length(string_agg(
              concat('<|', event_type, '|>e', event_id), ''
              ORDER BY tts, event_id)) as bigint) AS n_chars
          FROM n GROUP BY 1, 2),
        pairs AS (
          SELECT l.user_id, l.sid AS pair_sid,
            r.reward > l.reward AS later_won,
            abs(l.reward - r.reward) AS gap,
            CASE WHEN r.reward > l.reward THEN r.n_chars
              ELSE l.n_chars END AS chosen_chars,
            CASE WHEN r.reward > l.reward THEN l.n_chars
              ELSE r.n_chars END AS rejected_chars
          FROM conv l JOIN conv r
            ON l.user_id = r.user_id AND r.sid = l.sid + 1)"""

  /** Per-type daily event counts as one day-ordered series:
    * (event_type, ys = the counts as doubles). The one data-scale
    * aggregation of e28-e33; their forecasters fold the
    * metadata-scale lists.
    */
  private[queries] def dailySeries(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    t(s, d, "events")
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("event_type"))
      .agg(transform(array_sort(collect_list(struct(col("day"),
        col("cnt")))), x => x.getField("cnt").cast("double")).as("ys"))

  /** DuckDB twin of [[dailySeries]]: CTEs `daily` and
    * `ser(event_type, ys)`.
    */
  private[queries] val sqlDailySeries: String = """daily AS (
          SELECT event_type, cast(cast(ts as timestamp) as date) AS day,
            cast(count(*) as bigint) AS cnt
          FROM events GROUP BY 1, 2),
        ser AS (
          SELECT event_type,
            list_transform(list(cnt ORDER BY day), c -> cast(c as double))
              AS ys
          FROM daily GROUP BY event_type)"""

  /** Shared e39/p07 frame: (chosen, rejected) trajectory pairs from
    * consecutive sessions of one user, with integer rewards
    * (floor(value·64) summed — bit-portable, no double-sum drift) and
    * rendered char lengths. One sessionize window + one hash agg +
    * one adjacent-sid self-join.
    */
  private[queries] def preferencePairs(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val n = sessionized(t(s, d, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("ts"), col("value")))
    val conv = n
      .select(col("user_id"), col("sid"), col("ts"), col("event_id"),
        floor(col("value") * 64).cast("long").as("rw"),
        concat(lit("<|"), col("event_type"), lit("|>e"),
          col("event_id").cast("string")).as("turn"))
      .groupBy(col("user_id"), col("sid"))
      .agg(sum(col("rw")).as("reward"),
        length(concat_ws("", transform(array_sort(collect_list(
          struct(col("ts"), col("event_id"), col("turn")))),
          x => x.getField("turn")))).cast("long").as("n_chars"))
    conv.as("l")
      .join(conv.as("r"),
        col("l.user_id") === col("r.user_id") &&
          col("r.sid") === col("l.sid") + 1)
      .select(col("l.user_id").as("user_id"),
        col("l.sid").as("pair_sid"),
        (col("r.reward") > col("l.reward")).as("later_won"),
        abs(col("l.reward") - col("r.reward")).as("gap"),
        when(col("r.reward") > col("l.reward"), col("r.n_chars"))
          .otherwise(col("l.n_chars")).as("chosen_chars"),
        when(col("r.reward") > col("l.reward"), col("l.n_chars"))
          .otherwise(col("r.n_chars")).as("rejected_chars"))
  }

  /** Morton (Z-order) index of two non-negative coordinates: bit i of
    * `x` lands at bit 2i and bit i of `y` at bit 2i+1, over the low
    * `bits` bits (e11/e14/e34/e37). Row-local integer bit math the
    * oracle re-derives bit for bit.
    */
  private def interleave(x: Column, y: Column, bits: Int): Column = {
    def spread(c: Column, offset: Int): Column = (0 until bits).map { i =>
      shiftleft(shiftright(c, i).bitwiseAND(lit(1L)), 2 * i + offset)
    }.reduce(_ bitwiseOR _)
    spread(x, 0).bitwiseOR(spread(y, 1))
  }

  def queries: Seq[(String, Q)] = Seq(

    // ------------------------------------------------------------------
    // Tumbling 1-hour windows: window().start ≡ date_trunc('hour').
    // ------------------------------------------------------------------
    "e01_tumbling_hourly" -> Q(
      (s, d) =>
        t(s, d, "events")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
          .select(col("window.start").as("ws"), col("event_type"), col("n"),
            col("total_value"))
          .orderBy(col("ws"), col("event_type")),
      Some(s"""SELECT date_trunc('hour', ts) AS ws, event_type,
        count(*) AS n, ${sqlDsum("value")} AS total_value
        FROM (SELECT event_id, cast(ts as timestamp) AS ts, user_id, event_type, value, props FROM events) ev
        GROUP BY 1, 2
        ORDER BY ws, event_type"""),
      bench = true),

    // ------------------------------------------------------------------
    // Sliding windows (1 h long, every 30 min): each event lands in two
    // windows; the SQL twin materializes both memberships via UNION ALL.
    // ------------------------------------------------------------------
    "e02_sliding_windows" -> Q(
      (s, d) =>
        t(s, d, "events")
          .groupBy(window(col("ts"), "1 hour", "30 minutes"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
          .select(col("window.start").as("ws"), col("n"), col("total_value"))
          .orderBy(col("ws")),
      Some(s"""WITH both_windows AS (
          SELECT date_trunc('hour', ts) +
                 CASE WHEN minute(ts) >= 30 THEN INTERVAL 30 MINUTE
                      ELSE INTERVAL 0 MINUTE END AS ws, value FROM (SELECT event_id, cast(ts as timestamp) AS ts, user_id, event_type, value, props FROM events) ev
          UNION ALL
          SELECT date_trunc('hour', ts) +
                 CASE WHEN minute(ts) >= 30 THEN INTERVAL 30 MINUTE
                      ELSE INTERVAL 0 MINUTE END - INTERVAL 30 MINUTE AS ws,
                 value FROM (SELECT event_id, cast(ts as timestamp) AS ts, user_id, event_type, value, props FROM events) ev)
        SELECT ws, count(*) AS n, ${sqlDsum("value")} AS total_value
        FROM both_windows
        GROUP BY ws
        ORDER BY ws""")),

    // ------------------------------------------------------------------
    // Session windows (30-minute gap) per user — Spark's session_window
    // vs the classic gaps-and-islands SQL.
    // ------------------------------------------------------------------
    "e03_sessions" -> Q(
      (s, d) =>
        t(s, d, "events")
          .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
          .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("session_value"))
          .select(col("user_id"),
            col("session_window.start").as("session_start"),
            col("n_events"), col("session_value"))
          .orderBy(col("user_id"), col("session_start")),
      Some(s"""WITH ordered AS (
          SELECT user_id, ts, value,
            CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL 30 MINUTE
                 OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                 THEN 1 ELSE 0 END AS new_session
          FROM (SELECT event_id, cast(ts as timestamp) AS ts, user_id, event_type, value, props FROM events) ev),
        numbered AS (
          SELECT user_id, ts, value,
            sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
          FROM ordered)
        SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
          ${sqlDsum("value")} AS session_value
        FROM numbered
        GROUP BY user_id, session_id
        ORDER BY user_id, session_start""")),

    // ------------------------------------------------------------------
    // JSON extraction from the props column + aggregation.
    // ------------------------------------------------------------------
    "e04_json_extract" -> Q(
      (s, d) =>
        t(s, d, "events")
          .select(col("event_type"),
            get_json_object(col("props"), "$.k").cast("bigint").as("k"))
          .groupBy(col("event_type"), pmod(col("k"), lit(10)).as("k_bucket"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("event_type"), col("k_bucket")),
      Some("""SELECT event_type,
        cast(json_extract_string(props, '$.k') as bigint) % 10 AS k_bucket,
        count(*) AS n
        FROM (SELECT event_id, cast(ts as timestamp) AS ts, user_id, event_type, value, props FROM events) ev
        GROUP BY 1, 2
        ORDER BY event_type, k_bucket""")),

    // ------------------------------------------------------------------
    // As-of (point-in-time) join: each event matched to the same
    // customer's most recent order at-or-before the event — the
    // single-shuffle union+window implementation (AsOfJoin), verified
    // against DuckDB's native ASOF JOIN.
    // ------------------------------------------------------------------
    "e06_asof_join" -> Q(
      (s, d) => {
        val ev = t(s, d, "events")
          .select(col("event_id"), col("user_id"), col("ts"))
        val ords = t(s, d, "orders")
          .groupBy(col("o_custkey"), col("o_orderdate"))
          .agg(max(col("o_orderkey")).as("last_order"))
        graft.operators.AsOfJoin.leftAsOf(ev, ords,
          leftTs = "ts", rightTs = "o_orderdate",
          keyLeft = "user_id", keyRight = "o_custkey",
          payload = Seq("last_order"))
          .select(col("event_id"), col("user_id"), col("last_order"))
          .orderBy(col("event_id"))
      },
      Some("""WITH ev AS (SELECT event_id, user_id, cast(ts as timestamp) AS ts
                          FROM events),
             ords AS (SELECT o_custkey, o_orderdate,
                        max(o_orderkey) AS last_order
                      FROM orders GROUP BY 1, 2)
        SELECT ev.event_id, ev.user_id, o.last_order
        FROM ev ASOF LEFT JOIN ords o
          ON ev.user_id = o.o_custkey AND ev.ts >= o.o_orderdate
        ORDER BY event_id""")),

    // ------------------------------------------------------------------
    // Event dedup within a time window (batch twin of
    // dropDuplicatesWithinWatermark): first event per (user, type,
    // minute bucket).
    // ------------------------------------------------------------------
    "e05_dedup_window" -> Q(
      (s, d) =>
        t(s, d, "events")
          .groupBy(col("user_id"), col("event_type"),
            date_trunc("minute", col("ts")).as("minute"))
          .agg(min(col("event_id")).as("first_event_id"),
            count(lit(1)).as("n_in_bucket"))
          .orderBy(col("user_id"), col("event_type"), col("minute")),
      Some("""SELECT user_id, event_type, date_trunc('minute', ts) AS minute,
        min(event_id) AS first_event_id, count(*) AS n_in_bucket
        FROM (SELECT event_id, cast(ts as timestamp) AS ts, user_id, event_type, value, props FROM events) ev
        GROUP BY 1, 2, 3
        ORDER BY user_id, event_type, minute""")),

    // ------------------------------------------------------------------
    // Interval (range) join through the bucketized operator: every
    // purchase event opens a 1-hour attribution window, and each
    // same-user event inside the window (the purchase itself included)
    // is attributed to it. The operator turns the pure range predicate
    // into an equi-join on a time bucket (bucket size ≥ window length →
    // each window explodes to ≤2 bucket rows), so the plan is a hash
    // join, not a broadcast-nested-loop — the difference between O(n·m)
    // and O(n+m) at 100 TB. Both sides come from `events` so the oracle
    // always compares matched rows (the round-5 events×orders pairing
    // had disjoint year ranges: 0==0 passed vacuously).
    // ------------------------------------------------------------------
    "e09_interval_join" -> Q(
      (s, d) => {
        val ev = t(s, d, "events")
          .select(col("event_id"), col("user_id"), col("ts"))
        val windows = t(s, d, "events")
          .filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"),
            col("user_id").as("p_user"), col("ts").as("w_start"))
          .withColumn("w_end", col("w_start") + expr("INTERVAL 1 HOUR"))
        graft.operators.AsOfJoin.intervalJoin(ev, windows,
          leftTs = "ts", rightStart = "w_start", rightEnd = "w_end",
          keyLeft = "user_id", keyRight = "p_user",
          bucketMs = 3600L * 1000)
          .select(col("event_id"), col("purchase_id"))
          .orderBy(col("event_id"), col("purchase_id"))
      },
      Some("""WITH ev AS (SELECT event_id, user_id,
                cast(ts as timestamp) AS ts FROM events),
          w AS (SELECT event_id AS purchase_id, user_id AS p_user,
                  cast(ts as timestamp) AS w_start,
                  cast(ts as timestamp) + INTERVAL 1 HOUR AS w_end
                FROM events WHERE event_type = 'purchase')
        SELECT ev.event_id, w.purchase_id
        FROM ev JOIN w ON ev.user_id = w.p_user
          AND ev.ts >= w.w_start AND ev.ts < w.w_end
        ORDER BY event_id, purchase_id""")),

    // ------------------------------------------------------------------
    // Conversion funnel: users who viewed, then purchased at/after their
    // first view, then purchased within 2 hours of it. One aggregation
    // per side + a broadcast-size join on user_id — no event x event
    // blowup, so the plan scales linearly in events.
    // ------------------------------------------------------------------
    "e07_funnel" -> Q(
      (s, d) => {
        val ev = t(s, d, "events")
        val views = ev.filter(col("event_type") === "view")
          .groupBy(col("user_id")).agg(min(col("ts")).as("first_view"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
        views.join(purchases, col("user_id") === col("p_user"), "left")
          .groupBy(col("user_id"), col("first_view"))
          .agg(
            max(when(col("p_ts") >= col("first_view"), 1).otherwise(0))
              .as("converted"),
            max(when(col("p_ts") >= col("first_view") &&
              col("p_ts") <= col("first_view") + expr("INTERVAL 2 HOURS"),
              1).otherwise(0)).as("converted_2h"))
          .agg(count(lit(1)).as("n_viewers"),
            sum(col("converted")).cast("bigint").as("n_converted"),
            sum(col("converted_2h")).cast("bigint").as("n_converted_2h"))
          .withColumn("conversion_rate",
            col("n_converted").cast("double") /
              col("n_viewers").cast("double"))
          .orderBy(col("n_viewers"))
      },
      Some("""WITH ev AS (SELECT event_id, cast(ts as timestamp) AS ts, user_id, event_type, value, props FROM events),
        v AS (SELECT user_id, min(ts) AS first_view FROM ev
              WHERE event_type = 'view' GROUP BY user_id),
        p AS (SELECT user_id AS p_user, ts AS p_ts FROM ev
              WHERE event_type = 'purchase'),
        u AS (SELECT user_id, first_view,
            max(CASE WHEN p_ts >= first_view THEN 1 ELSE 0 END)
              AS converted,
            max(CASE WHEN p_ts >= first_view
                      AND p_ts <= first_view + INTERVAL 2 HOUR
                     THEN 1 ELSE 0 END) AS converted_2h
          FROM v LEFT JOIN p ON user_id = p_user
          GROUP BY user_id, first_view)
        SELECT count(*) AS n_viewers,
          cast(sum(converted) as bigint) AS n_converted,
          cast(sum(converted_2h) as bigint) AS n_converted_2h,
          cast(cast(sum(converted) as bigint) as double) /
            cast(count(*) as double) AS conversion_rate
        FROM u ORDER BY n_viewers""")),

    // ------------------------------------------------------------------
    // Late-data audit (the batch twin of watermarking): an event is late
    // if it arrives (event_id order = arrival order) more than 1 hour
    // behind the maximum event time seen so far. Streaming's
    // withWatermark("ts", "1 hour") drops exactly these rows.
    // ------------------------------------------------------------------
    "e08_late_data" -> Q(
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("event_id"))
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, 0)
        t(s, d, "events")
          .withColumn("max_seen", max(col("ts")).over(w))
          .withColumn("is_late",
            col("ts") < col("max_seen") - expr("INTERVAL 1 HOUR"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            expr("count_if(is_late)").as("n_late"))
          .orderBy(col("event_type"))
      },
      Some("""WITH ev AS (SELECT event_id, cast(ts as timestamp) AS ts, user_id, event_type, value, props FROM events),
        m AS (SELECT event_type, ts,
            max(ts) OVER (ORDER BY event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS max_seen
          FROM ev)
        SELECT event_type, count(*) AS n_events,
          cast(count_if(ts < max_seen - INTERVAL 1 HOUR) as bigint) AS n_late
        FROM m GROUP BY event_type ORDER BY event_type""")),

    // ------------------------------------------------------------------
    // Cohort retention — the product-analytics staple: cohort a user by
    // their first active day, then count distinct users active again N
    // days later (offsets 0-7). Two linear aggregations and one
    // user-keyed join: activity dedup shuffles on (user, day), cohort
    // is a users-sized table, the retention matrix is
    // days × offsets — tiny. At 100 TB both the activity dedup and the
    // cohort join key by user_id; bucketing the event lake by user_id
    // makes the whole query exchange-light (BucketingSpec's layout).
    // ------------------------------------------------------------------
    "e10_cohort_retention" -> Q(
      (s, d) => {
        val activity = t(s, d, "events")
          .select(col("user_id"), to_date(col("ts")).as("day"))
          .distinct()
        val cohort = activity.groupBy(col("user_id"))
          .agg(min(col("day")).as("cohort_day"))
        activity.join(cohort, "user_id")
          .withColumn("day_offset", datediff(col("day"), col("cohort_day")))
          .filter(col("day_offset") <= 7)
          .groupBy(col("cohort_day"), col("day_offset"))
          .agg(countDistinct(col("user_id")).as("n_users"))
          .orderBy(col("cohort_day"), col("day_offset"))
      },
      Some("""WITH a AS (
          SELECT DISTINCT user_id,
            cast(cast(ts as timestamp) as date) AS day
          FROM events),
        c AS (
          SELECT user_id, min(day) AS cohort_day FROM a GROUP BY user_id)
        SELECT c.cohort_day,
          cast(datediff('day', c.cohort_day, a.day) as int) AS day_offset,
          cast(count(DISTINCT a.user_id) as bigint) AS n_users
        FROM a JOIN c ON c.user_id = a.user_id
        WHERE datediff('day', c.cohort_day, a.day) <= 7
        GROUP BY 1, 2
        ORDER BY cohort_day, day_offset""")),

    // ------------------------------------------------------------------
    // Z-order (Morton) layout clustering over (user_id, event-minute) —
    // the data-layout operator behind multi-dimension file skipping in
    // every serious lakehouse. Sorting 100 TB of events by time alone
    // makes user_id-predicate scans read everything (and vice versa);
    // sorting by the bit-interleaved Z-value gives every file a TIGHT
    // min/max envelope on BOTH dimensions, so either predicate prunes.
    // The query computes the 32-bit Z-value row-locally (pure codegen'd
    // bit ops — the same expression a repartitionByRange(z) writer
    // would sort by), buckets on the top 10 Z-bits (= 1024 would-be
    // files), and emits each bucket's per-dimension envelope: the
    // min/max stats a parquet footer would carry. Narrow envelopes on
    // both dims at once IS the Z-order guarantee — an interleaved
    // recursive quadrant decomposition — and the oracle re-derives the
    // interleave bit-for-bit. One shuffle (the bucket agg).
    // ------------------------------------------------------------------
    "e11_zorder_layout" -> Q(
      (s, d) => {
        val ev = t(s, d, "events")
          .select(pmod(col("user_id"), lit(65536L)).as("ux"),
            pmod(expr("unix_seconds(ts) div 60"), lit(65536L)).as("my"))
        ev.select(col("ux"), col("my"),
            interleave(col("ux"), col("my"), 16).as("z"))
          .groupBy(shiftright(col("z"), 22).as("z_bucket"))
          .agg(count(lit(1)).as("n_events"),
            min(col("ux")).as("min_user"), max(col("ux")).as("max_user"),
            min(col("my")).as("min_minute"),
            max(col("my")).as("max_minute"))
          .orderBy(col("z_bucket"))
      },
      Some {
        val xBits = (0 until 16)
          .map(i => s"(((ux >> $i) & 1) << ${2 * i})").mkString(" | ")
        val yBits = (0 until 16)
          .map(i => s"(((my >> $i) & 1) << ${2 * i + 1})").mkString(" | ")
        s"""WITH ev AS (
          SELECT user_id % 65536 AS ux,
            (cast(floor(epoch(cast(ts as timestamp))) as bigint) // 60)
              % 65536 AS my
          FROM events),
        z AS (
          SELECT ux, my, ($xBits) | ($yBits) AS z FROM ev)
        SELECT z >> 22 AS z_bucket, count(*) AS n_events,
          min(ux) AS min_user, max(ux) AS max_user,
          min(my) AS min_minute, max(my) AS max_minute
        FROM z
        GROUP BY 1
        ORDER BY z_bucket"""
      }),

    // ------------------------------------------------------------------
    // Incremental rollup maintenance — materialized-view algebra. A
    // 100 TB deployment never recomputes a daily rollup from scratch;
    // it keeps PARTIAL aggregates (count + exact decimal sum — both
    // associative and commutative) and folds each day's delta in. The
    // query runs that maintenance path: partials over the base window
    // (Jan 1-20), partials over the late-arriving delta (Jan 21+),
    // union, re-aggregate — and the oracle computes the rollup in one
    // direct pass, so the hash match IS the proof that merge(partials)
    // ≡ recompute. This is exactly why doubles are banned from
    // aggregates here (CLAUDE.md invariant): a double sum would make
    // merged-vs-direct differ in the last ulp and the algebra would
    // only hold approximately. AVG rides along as merged_sum/merged_n,
    // derived — never stored — state.
    // ------------------------------------------------------------------
    "e12_incremental_rollup" -> Q(
      (s, d) => {
        val ev = t(s, d, "events")
          .select(to_date(col("ts")).as("day"), col("event_type"),
            col("value"))
        def partials(df: org.apache.spark.sql.DataFrame) =
          df.groupBy(col("day"), col("event_type"))
            .agg(count(lit(1)).as("n"),
              sum(col("value").cast(
                org.apache.spark.sql.types.DataTypes
                  .createDecimalType(18, 2))).as("sv"))
        val base = partials(ev.filter(col("day") < lit("2024-01-21")))
        val delta = partials(ev.filter(col("day") >= lit("2024-01-21")))
        base.unionByName(delta)
          .groupBy(col("day"), col("event_type"))
          .agg(sum(col("n")).as("n_events"),
            sum(col("sv")).cast("double").as("total_value"))
          .withColumn("avg_value",
            col("total_value") / col("n_events").cast("double"))
          .orderBy(col("day"), col("event_type"))
      },
      Some(s"""SELECT cast(cast(ts as timestamp) as date) AS day,
          event_type,
          count(*) AS n_events,
          ${sqlDsum("value")} AS total_value,
          ${sqlDsum("value")} / cast(count(*) as double) AS avg_value
        FROM events
        GROUP BY 1, 2
        ORDER BY day, event_type""")),

    // ------------------------------------------------------------------
    // SCD2 history compaction — the slowly-changing-dimension builder
    // every warehouse ETL (and every migration backfill) needs: from
    // the raw event stream, each user's "current state" per day (the
    // day's LAST event_type; latest ts, event_id tiebreak), collapsed
    // into validity ranges [valid_from, valid_to] per contiguous run of
    // equal state — gaps-and-islands via a lag() change flag and a
    // running-sum island id. Everything is user_id-partitioned windows
    // over per-(user, day) summary rows (≤ users×days, far below event
    // count), so the shuffle is dimension-scale, and the window state
    // per user is a sort run — spillable. Deterministic end to end:
    // integer/date ops and a total tiebreak on the daily-last pick.
    // ------------------------------------------------------------------
    "e13_scd2_history" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val ev = t(s, d, "events")
          .select(col("user_id"), to_date(col("ts")).as("day"),
            col("ts"), col("event_id"), col("event_type"))
        val lastW = Window.partitionBy(col("user_id"), col("day"))
          .orderBy(col("ts").desc, col("event_id").desc)
        val daily = ev
          .withColumn("rn", row_number().over(lastW))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("day"),
            col("event_type").as("state"))
        val seqW = Window.partitionBy(col("user_id")).orderBy(col("day"))
        daily
          .withColumn("chg",
            when(lag(col("state"), 1).over(seqW).isNull ||
              lag(col("state"), 1).over(seqW) =!= col("state"), 1L)
              .otherwise(0L))
          .withColumn("grp", sum(col("chg")).over(
            seqW.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy(col("user_id"), col("grp"), col("state"))
          .agg(min(col("day")).as("valid_from"),
            max(col("day")).as("valid_to"),
            count(lit(1)).as("n_days"))
          .select(col("user_id"), col("valid_from"), col("valid_to"),
            col("state"), col("n_days"))
          .orderBy(col("user_id"), col("valid_from"))
      },
      Some("""WITH ev AS (
          SELECT user_id, cast(cast(ts as timestamp) as date) AS day,
            cast(ts as timestamp) AS tts, event_id, event_type
          FROM events),
        daily AS (
          SELECT user_id, day, event_type AS state FROM (
            SELECT *, row_number() OVER (PARTITION BY user_id, day
              ORDER BY tts DESC, event_id DESC) AS rn FROM ev) x
          WHERE rn = 1),
        flagged AS (
          SELECT user_id, day, state,
            CASE WHEN lag(state) OVER w IS NULL
                   OR lag(state) OVER w <> state
              THEN 1 ELSE 0 END AS chg
          FROM daily
          WINDOW w AS (PARTITION BY user_id ORDER BY day)),
        grouped AS (
          SELECT user_id, day, state,
            sum(chg) OVER (PARTITION BY user_id ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
          FROM flagged)
        SELECT user_id, min(day) AS valid_from, max(day) AS valid_to,
          state, cast(count(*) as bigint) AS n_days
        FROM grouped
        GROUP BY user_id, grp, state
        ORDER BY user_id, valid_from""")),

    // ------------------------------------------------------------------
    // Rolling anomaly detection — the monitoring query a 100 TB event
    // platform runs continuously: flag hours whose event count sits
    // more than 3σ from the preceding 24-hour rolling baseline, per
    // event type. The integer-exactness trick that makes this
    // hash-verifiable: never compute mean, σ, or a z-score at all —
    // |n − S/w| > 3σ rearranges to (w·n − S)² > 9·(w·Σn² − S²), pure
    // integer arithmetic over the window sums (no division, no sqrt,
    // no doubles anywhere), so both engines produce the identical
    // flag even though DuckDB's window sums promote to HUGEINT.
    // Scale shape: the hourly pre-aggregation reduces the stream to
    // (types × hours) rows BEFORE the window, so the rolling frame
    // runs over metadata-scale series — the same pre-agg-then-window
    // shape e13 uses.
    // ------------------------------------------------------------------
    "e17_rolling_anomaly" -> Q(
      (s, d) => {
        val scored = anomalyScoredHours(t(s, d, "events"))
        scored.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_scored"),
            count(when(col("flag"), 1)).as("n_anomalies"),
            min(when(col("flag"), col("ws"))).as("first_anomaly"))
          .orderBy(col("event_type"))
      },
      Some("""WITH hourly AS (
          SELECT event_type,
            date_trunc('hour', cast(ts as timestamp)) AS ws,
            cast(count(*) as bigint) AS n
          FROM events GROUP BY 1, 2),
        sc AS (
          SELECT event_type, ws, n,
            count(*) OVER w AS wcnt,
            sum(n) OVER w AS s1,
            sum(n * n) OVER w AS s2
          FROM hourly
          WINDOW w AS (PARTITION BY event_type ORDER BY ws
            ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
        f AS (
          SELECT *, (wcnt * n - s1) * (wcnt * n - s1) >
              9 * (wcnt * s2 - s1 * s1) AS flag
          FROM sc WHERE wcnt = 24)
        SELECT event_type, cast(count(*) as bigint) AS n_scored,
          cast(count(*) FILTER (WHERE flag) as bigint) AS n_anomalies,
          min(CASE WHEN flag THEN ws END) AS first_anomaly
        FROM f GROUP BY 1
        ORDER BY event_type""")),

    // ------------------------------------------------------------------
    // Marketing attribution — first-touch vs last-touch revenue per
    // touch channel, the query every growth team runs and every
    // engine makes painful. For each purchase: which view/click the
    // user made in the preceding 7 days, earliest (first-touch) and
    // latest (last-touch)? The scalable trick is ONE range-frame
    // window pass over the interleaved per-user event stream instead
    // of a purchases×touches interval self-join (which fans out as
    // touches² per user at 100 TB): each touch is encoded as
    // ts_seconds·4 + channel_code into a single BIGINT, so plain
    // min/max over RANGE BETWEEN 604800 PRECEDING AND 1 PRECEDING
    // pick the first/last touch — both engines agree on integer
    // min/max where a struct-valued window would be engine-specific.
    // Purchases with no touch in the window attribute to 'none'.
    // Output is long-form: (model, touch) × attributed count +
    // decimal-exact revenue.
    // ------------------------------------------------------------------
    "e16_attribution" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val code = when(col("event_type") === "view", 1L)
          .when(col("event_type") === "click", 2L)
        val enc = when(code.isNotNull,
          col("tsl") * 4 + code)
        val w = Window.partitionBy(col("user_id")).orderBy(col("tsl"))
          .rangeBetween(-604800L, -1L)
        val purchases = t(s, d, "events")
          .select(col("user_id"), col("event_type"), col("value"),
            unix_timestamp(col("ts")).as("tsl"))
          .withColumn("ft", min(enc).over(w))
          .withColumn("lt", max(enc).over(w))
          .filter(col("event_type") === "purchase")
        def channel(encCol: Column): Column =
          when(encCol.isNull, "none")
            .when(pmod(encCol, lit(4)) === 1, "view")
            .otherwise("click")
        def attrib(encCol: Column, model: String) = purchases
          .groupBy(channel(encCol).as("touch"))
          .agg(count(lit(1)).as("n_purchases"),
            dsum(col("value")).as("revenue"))
          .select(lit(model).as("model"), col("touch"),
            col("n_purchases"), col("revenue"))
        attrib(col("ft"), "first_touch")
          .unionAll(attrib(col("lt"), "last_touch"))
          .orderBy(col("model"), col("touch"))
      },
      Some(s"""WITH ev AS (
          SELECT user_id, event_type, value,
            cast(floor(epoch(cast(ts as timestamp))) as bigint) AS tsl
          FROM events),
        enc AS (
          SELECT user_id, event_type, value, tsl,
            CASE WHEN event_type = 'view' THEN tsl * 4 + 1
                 WHEN event_type = 'click' THEN tsl * 4 + 2 END AS e
          FROM ev),
        win AS (
          SELECT user_id, event_type, value,
            min(e) OVER w AS ft, max(e) OVER w AS lt
          FROM enc
          WINDOW w AS (PARTITION BY user_id ORDER BY tsl
            RANGE BETWEEN 604800 PRECEDING AND 1 PRECEDING)),
        p AS (SELECT * FROM win WHERE event_type = 'purchase'),
        f AS (
          SELECT 'first_touch' AS model,
            CASE WHEN ft IS NULL THEN 'none'
                 WHEN ft % 4 = 1 THEN 'view' ELSE 'click' END AS touch,
            cast(count(*) as bigint) AS n_purchases,
            ${sqlDsum("value")} AS revenue
          FROM p GROUP BY 2),
        l AS (
          SELECT 'last_touch' AS model,
            CASE WHEN lt IS NULL THEN 'none'
                 WHEN lt % 4 = 1 THEN 'view' ELSE 'click' END AS touch,
            cast(count(*) as bigint) AS n_purchases,
            ${sqlDsum("value")} AS revenue
          FROM p GROUP BY 2)
        SELECT * FROM (
          SELECT * FROM f UNION ALL SELECT * FROM l) u
        ORDER BY model, touch""")),

    // ------------------------------------------------------------------
    // CDC changelog apply (SCD1 / MERGE INTO semantics) — e13's
    // complement: e13 KEEPS history as validity intervals; this
    // produces the CURRENT state table a Debezium-style changelog
    // implies. The event stream is read as ops on a per-user profile:
    // any event upserts (last-writer-wins on (ts, event_id)), an
    // 'error' event is the DELETE tombstone — a user whose final op
    // is a tombstone is absent from the result entirely, not null-
    // rowed. Scale shape: ONE user-keyed window pass applies the
    // whole changelog (both window functions share the same
    // partitioning, so one shuffle) — versus the row-at-a-time MERGE
    // a naive CDC consumer runs; at 100 TB this is the difference
    // between a batch backfill that finishes and one that doesn't.
    // ------------------------------------------------------------------
    "e15_cdc_apply" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val byUser = Window.partitionBy(col("user_id"))
        t(s, d, "events")
          .withColumn("rn", row_number().over(
            byUser.orderBy(col("ts").desc, col("event_id").desc)))
          .withColumn("n_ops", count(lit(1)).over(byUser))
          .filter(col("rn") === 1 && col("event_type") =!= "error")
          .select(col("user_id"), col("event_type").as("state"),
            col("value").as("last_value"), col("ts").as("last_ts"),
            col("n_ops"))
          .orderBy(col("user_id"))
      },
      Some("""WITH ev AS (
          SELECT event_id, user_id, event_type, value,
            cast(ts as timestamp) AS tts
          FROM events),
        r AS (
          SELECT user_id, event_type, value, tts,
            row_number() OVER (PARTITION BY user_id
              ORDER BY tts DESC, event_id DESC) AS rn,
            cast(count(*) OVER (PARTITION BY user_id) as bigint) AS n_ops
          FROM ev)
        SELECT user_id, event_type AS state, value AS last_value,
          tts AS last_ts, n_ops
        FROM r WHERE rn = 1 AND event_type <> 'error'
        ORDER BY user_id""")),

    // ------------------------------------------------------------------
    // Zone-map pruning effectiveness — the measurement that justifies
    // e11's Z-order layout. A 100 TB table is read through file-level
    // min/max statistics (parquet row-group stats, Delta/Iceberg
    // zone maps): a file is scanned iff its [min,max] box intersects
    // the predicate. How many files that is depends entirely on
    // LAYOUT. This query builds the zone map (min/max of user bucket
    // and minute bucket per zone) under both layouts — arrival order
    // (zone = event_id div 2048: time-correlated, user-random 2048-row
    // ingestion blocks) and Z-order (zone = z >> 6 over the 6+6-bit
    // interleave below: an 8×8 tile in (user-cohort, minute) space —
    // the contiguous z-range an OPTIMIZE would write as one file) —
    // then evaluates one 2-D range predicate against both zone maps.
    // rows_matched is identical by construction (layout never changes
    // ANSWERS); rows_scanned is the cost, and the Z-order row is the
    // one a cluster should ship. Everything is two aggregates over one
    // shared projection — the zone map itself is metadata-scale
    // (n_rows/2048 entries), which is exactly why real systems can
    // afford to consult it per query.
    // ------------------------------------------------------------------
    "e14_zonemap_prune" -> Q(
      (s, d) => {
        // 6-bit × 6-bit space sized to the synthetic data (≤1500
        // users, minute-of-hour): ux = user cohort 0-63, my = minute
        // of hour. Zone = z >> 6: an 8×8 tile in (ux, my) space —
        // the contiguous z-range a Z-ordered OPTIMIZE would write as
        // one file. Arrival files are 2048-row ingestion blocks.
        val uxLo = 8L; val uxHi = 23L
        val myLo = 16L; val myHi = 47L
        val ev = t(s, d, "events")
          .select(col("event_id"),
            pmod(col("user_id"), lit(64L)).as("ux"),
            pmod(expr("unix_seconds(ts) div 60"), lit(60L)).as("my"))
          .select(col("event_id"), col("ux"), col("my"),
            interleave(col("ux"), col("my"), 6).as("z"))
          // both layouts' zone maps consume this projection — compute
          // the interleave once (d08/x21 multi-consumer lesson)
          .localCheckpoint()
        val pred = col("ux").between(uxLo, uxHi) &&
          col("my").between(myLo, myHi)
        def zones(zoneCol: Column, layout: String) = ev
          .groupBy(zoneCol.as("zone"))
          .agg(count(lit(1)).as("n"),
            min(col("ux")).as("lo_ux"), max(col("ux")).as("hi_ux"),
            min(col("my")).as("lo_my"), max(col("my")).as("hi_my"),
            count(when(pred, 1)).as("n_match"))
          .withColumn("hit",
            col("lo_ux") <= uxHi && col("hi_ux") >= uxLo &&
              col("lo_my") <= myHi && col("hi_my") >= myLo)
          .groupBy()
          .agg(count(lit(1)).as("n_zones"),
            count(when(col("hit"), 1)).as("zones_hit"),
            coalesce(sum(when(col("hit"), col("n"))), lit(0L))
              .as("rows_scanned"),
            sum(col("n_match")).as("rows_matched"))
          .select(lit(layout).as("layout"), col("n_zones"),
            col("zones_hit"), col("rows_scanned"), col("rows_matched"))
        zones(expr("event_id div 2048"), "arrival")
          .unionAll(zones(shiftright(col("z"), 6), "zorder"))
          .orderBy(col("layout"))
      },
      Some {
        val xBits = (0 until 6)
          .map(i => s"(((ux >> $i) & 1) << ${2 * i})").mkString(" | ")
        val yBits = (0 until 6)
          .map(i => s"(((my >> $i) & 1) << ${2 * i + 1})").mkString(" | ")
        s"""WITH ev AS MATERIALIZED (
          SELECT event_id, ux, my, ($xBits) | ($yBits) AS z FROM (
            SELECT event_id, user_id % 64 AS ux,
              (cast(floor(epoch(cast(ts as timestamp))) as bigint) // 60)
                % 60 AS my
            FROM events) b),
        za AS (
          SELECT event_id // 2048 AS zone, count(*) AS n,
            min(ux) AS lo_ux, max(ux) AS hi_ux,
            min(my) AS lo_my, max(my) AS hi_my,
            count(*) FILTER (WHERE ux BETWEEN 8 AND 23
              AND my BETWEEN 16 AND 47) AS n_match
          FROM ev GROUP BY 1),
        zz AS (
          SELECT z >> 6 AS zone, count(*) AS n,
            min(ux) AS lo_ux, max(ux) AS hi_ux,
            min(my) AS lo_my, max(my) AS hi_my,
            count(*) FILTER (WHERE ux BETWEEN 8 AND 23
              AND my BETWEEN 16 AND 47) AS n_match
          FROM ev GROUP BY 1),
        roll AS (
          SELECT 'arrival' AS layout,
            cast(count(*) as bigint) AS n_zones,
            cast(count(*) FILTER (WHERE lo_ux <= 23 AND hi_ux >= 8
              AND lo_my <= 47 AND hi_my >= 16) as bigint)
              AS zones_hit,
            cast(coalesce(sum(n) FILTER (WHERE lo_ux <= 23
              AND hi_ux >= 8 AND lo_my <= 47 AND hi_my >= 16),
              0) as bigint) AS rows_scanned,
            cast(sum(n_match) as bigint) AS rows_matched
          FROM za
          UNION ALL
          SELECT 'zorder',
            cast(count(*) as bigint),
            cast(count(*) FILTER (WHERE lo_ux <= 23 AND hi_ux >= 8
              AND lo_my <= 47 AND hi_my >= 16) as bigint),
            cast(coalesce(sum(n) FILTER (WHERE lo_ux <= 23
              AND hi_ux >= 8 AND lo_my <= 47 AND hi_my >= 16),
              0) as bigint),
            cast(sum(n_match) as bigint)
          FROM zz)
        SELECT layout, n_zones, zones_hit, rows_scanned, rows_matched
        FROM roll ORDER BY layout"""
      }),

    // ------------------------------------------------------------------
    // Time-series gap-fill + linear interpolation — the resampling pass
    // every metrics pipeline runs before feeding models or dashboards:
    // sparse observations onto a dense regular grid. Observations are a
    // deterministic h60 thinning of each type's hourly averages (the
    // sparse-sensor shape; ~1/23 of hours observed), the grid is each
    // type's [first, last] observed hour, and interior gaps fill
    // linearly between the nearest observed neighbors:
    //   pv + (nv - pv) * (h - ph)/(nh - ph)
    // with h/ph/nh integer epoch-hours, so the weight is an exact
    // integer ratio and the one double expression is identical
    // row-local IEEE arithmetic in both engines. Scale shape: e17's
    // pre-agg-then-window — the ONLY corpus-scale term is the map-side
    // combinable (type, hour) aggregation; the spine, the two
    // ignore-nulls window passes (prev/next observed neighbor), and the
    // interpolation all run on the series-scale grid (types × hours),
    // which grows with the time span, not the event count. A naive
    // per-gap self-join ("for each missing hour find its neighbors")
    // would be gaps × observations; the running last/first window is
    // one sort per type partition.
    // ------------------------------------------------------------------
    "e18_gap_fill" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val hourly = t(s, d, "events")
          .groupBy(col("event_type"),
            date_trunc("hour", col("ts")).as("hr"))
          .agg(davg(col("value")).as("v"))
          .filter(graft.functions.PortableHash.h60col(
            concat(col("event_type"), lit("_"),
              unix_seconds(col("hr")))) % 23 === 0)
        val spine = hourly.groupBy(col("event_type"))
          .agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"))
          .select(col("event_type"),
            explode(sequence(col("h0"), col("h1"),
              expr("interval 1 hour"))).as("hr"))
        val wAll = Window.partitionBy(col("event_type"))
          .orderBy(col("hrl"))
        val wPrev = wAll.rowsBetween(Window.unboundedPreceding, 0)
        val wNext = wAll.rowsBetween(0, Window.unboundedFollowing)
        spine.join(hourly, Seq("event_type", "hr"), "left")
          .withColumn("hrl", unix_seconds(col("hr")).divide(3600)
            .cast("long"))
          .withColumn("pv", last(col("v"), ignoreNulls = true).over(wPrev))
          .withColumn("ph", last(when(col("v").isNotNull, col("hrl")),
            ignoreNulls = true).over(wPrev))
          .withColumn("nv", first(col("v"), ignoreNulls = true).over(wNext))
          .withColumn("nh", first(when(col("v").isNotNull, col("hrl")),
            ignoreNulls = true).over(wNext))
          .select(col("event_type"), col("hr"),
            when(col("v").isNotNull, col("v"))
              .otherwise(col("pv") + (col("nv") - col("pv")) *
                ((col("hrl") - col("ph")).cast("double") /
                  (col("nh") - col("ph")).cast("double"))).as("filled"),
            when(col("v").isNotNull, "observed")
              .otherwise("interpolated").as("kind"))
          .orderBy(col("event_type"), col("hr"))
      },
      Some(s"""WITH hourly AS (
          SELECT event_type,
            cast(date_trunc('hour', cast(ts as timestamp)) as timestamp)
              AS hr,
            ${sqlDavg("value")} AS v
          FROM events GROUP BY 1, 2),
        obs AS (
          SELECT * FROM hourly
          WHERE ${graft.functions.PortableHash.h60Sql(
            "event_type || '_' || cast(floor(epoch(hr)) as bigint)")}
            % 23 = 0),
        bounds AS (
          SELECT event_type, min(hr) AS h0, max(hr) AS h1
          FROM obs GROUP BY 1),
        spine AS (
          SELECT event_type,
            unnest(generate_series(h0, h1, interval '1 hour')) AS hr
          FROM bounds),
        grid AS (
          SELECT s.event_type, s.hr, o.v,
            cast(floor(epoch(s.hr)) as bigint) // 3600 AS hrl
          FROM spine s LEFT JOIN obs o
            ON s.event_type = o.event_type AND s.hr = o.hr),
        w AS (
          SELECT event_type, hr, v, hrl,
            last_value(v IGNORE NULLS) OVER wp AS pv,
            last_value(CASE WHEN v IS NOT NULL THEN hrl END IGNORE NULLS)
              OVER wp AS ph,
            first_value(v IGNORE NULLS) OVER wn AS nv,
            first_value(CASE WHEN v IS NOT NULL THEN hrl END IGNORE NULLS)
              OVER wn AS nh
          FROM grid
          WINDOW wp AS (PARTITION BY event_type ORDER BY hrl
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
            wn AS (PARTITION BY event_type ORDER BY hrl
              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        SELECT event_type, hr,
          CASE WHEN v IS NOT NULL THEN v
            ELSE pv + (nv - pv) *
              (cast(hrl - ph as double) / cast(nh - ph as double))
          END AS filled,
          CASE WHEN v IS NOT NULL THEN 'observed'
            ELSE 'interpolated' END AS kind
        FROM w
        ORDER BY event_type, hr""")),

    // ------------------------------------------------------------------
    // Session path-transition census (Markov chain of the user
    // journey) — which event follows which WITHIN a session: the
    // input to funnel design, next-action prediction, and journey
    // dashboards. Sessionization is the lag-gap method with a strict
    // µs-exact gap test (unix_micros/epoch_us > 30 min — integer
    // comparison, identical in both engines; an interval comparison
    // against a seconds-truncated diff can disagree at the boundary),
    // then per (user, session): consecutive (from → to) pairs via one
    // lag, plus START→first and last→END boundary rows (the absorbing
    // states that make the census a proper chain; the session's last
    // event is picked by a row_number over the unique (ts, event_id)
    // key — e20's determinism rule). Scale shape: the sessionization
    // window partitions by user, the transition windows by (user,
    // session) — user-dominated keys both times; output is
    // |types+2|² metadata.
    // ------------------------------------------------------------------
    "e22_path_transitions" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val n = sessionized(t(s, d, "events")
          .select(col("user_id"), col("event_id"), col("event_type"),
            col("ts")))
        val ws = Window.partitionBy(col("user_id"), col("sid"))
          .orderBy(col("ts"), col("event_id"))
        val wsd = Window.partitionBy(col("user_id"), col("sid"))
          .orderBy(col("ts").desc, col("event_id").desc)
        val tr = n
          .withColumn("from_type",
            coalesce(lag(col("event_type"), 1).over(ws), lit("START")))
          .withColumn("rd", row_number().over(wsd))
        tr.select(col("from_type"), col("event_type").as("to_type"))
          .unionAll(tr.filter(col("rd") === 1)
            .select(col("event_type").as("from_type"),
              lit("END").as("to_type")))
          .groupBy(col("from_type"), col("to_type"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("from_type"), col("to_type"))
      },
      Some("""WITH """ + sqlSessionized() + """,
        tr AS (
          SELECT
            coalesce(lag(event_type) OVER ws, 'START') AS from_type,
            event_type AS to_type,
            row_number() OVER (PARTITION BY user_id, sid
              ORDER BY tts DESC, event_id DESC) AS rd
          FROM n
          WINDOW ws AS (PARTITION BY user_id, sid
            ORDER BY tts, event_id)),
        allt AS (
          SELECT from_type, to_type FROM tr
          UNION ALL
          SELECT to_type, 'END' FROM tr WHERE rd = 1)
        SELECT from_type, to_type, cast(count(*) as bigint) AS n
        FROM allt GROUP BY 1, 2
        ORDER BY from_type, to_type""")),

    // ------------------------------------------------------------------
    // Conversion-latency distribution — the follow-up question to
    // e07's funnel counts: not "how many converted" but "how LONG did
    // conversion take", as per-cohort quantiles (the SLA/activation
    // metric growth teams actually track). Per user: first signup,
    // first purchase at-or-after it; latency is an exact integer
    // microsecond difference (unix_micros / epoch_us — no float time
    // arithmetic), bucketed by Monday-aligned signup week
    // (date_trunc('week') agrees across engines) and summarized with
    // the q38-proven percentile ↔ quantile_cont parity. Scale shape:
    // the signup frame, the purchase join, and the first-purchase
    // aggregation all key on user_id — one shuffle partitioning
    // reused; the quantile runs per cohort over converter-scale rows.
    // ------------------------------------------------------------------
    "e21_conversion_latency" -> Q(
      (s, d) => {
        val ev = t(s, d, "events")
        val su = ev.filter(col("event_type") === "signup")
          .groupBy(col("user_id")).agg(min(col("ts")).as("su_ts"))
        val pu = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts").as("pu_ts"))
        su.join(pu, Seq("user_id"))
          .filter(col("pu_ts") >= col("su_ts"))
          .groupBy(col("user_id"), col("su_ts"))
          .agg(min(col("pu_ts")).as("first_pu"))
          .select(date_trunc("week", col("su_ts")).as("cohort_week"),
            (unix_micros(col("first_pu")) - unix_micros(col("su_ts")))
              .as("latency_us"))
          .groupBy(col("cohort_week"))
          .agg(count(lit(1)).as("n_converters"),
            expr("percentile(latency_us, 0.25)").as("p25_us"),
            expr("percentile(latency_us, 0.5)").as("p50_us"),
            expr("percentile(latency_us, 0.75)").as("p75_us"),
            max(col("latency_us")).as("max_us"))
          .orderBy(col("cohort_week"))
      },
      Some("""WITH ev AS (
          SELECT user_id, event_type, cast(ts as timestamp) AS tts
          FROM events),
        su AS (
          SELECT user_id, min(tts) AS su_ts FROM ev
          WHERE event_type = 'signup' GROUP BY 1),
        conv AS (
          SELECT p.user_id, su.su_ts, min(p.tts) AS first_pu
          FROM ev p JOIN su ON su.user_id = p.user_id
          WHERE p.event_type = 'purchase' AND p.tts >= su.su_ts
          GROUP BY 1, 2),
        lat AS (
          SELECT cast(date_trunc('week', su_ts) as timestamp)
              AS cohort_week,
            epoch_us(first_pu) - epoch_us(su_ts) AS latency_us
          FROM conv)
        SELECT cohort_week, cast(count(*) as bigint) AS n_converters,
          quantile_cont(latency_us, 0.25) AS p25_us,
          quantile_cont(latency_us, 0.5) AS p50_us,
          quantile_cont(latency_us, 0.75) AS p75_us,
          cast(max(latency_us) as bigint) AS max_us
        FROM lat GROUP BY 1 ORDER BY cohort_week""")),

    // ------------------------------------------------------------------
    // OHLC bars (open/high/low/close downsampling) — the canonical
    // time-series pre-aggregation: the full event stream reduces to
    // one bar per (series, hour) carrying the four boundary/extreme
    // values plus count and exact volume, which is what every
    // dashboard, alerting rule, and backtest actually reads. Open and
    // close are picked by row_number over (ts, event_id) — a UNIQUE
    // tie key, so both engines select the identical row even when
    // timestamps collide (max_by on a bare timestamp would be
    // nondeterministic); both directions share one (type, hour)
    // partitioning, so the two window passes cost ONE shuffle (e15's
    // observation). Scale shape: bar-grain partitions are bounded by
    // the hour, the sort runs are spillable, and the output is
    // series × hours — the reduction every downstream consumer reads
    // instead of the raw stream.
    // ------------------------------------------------------------------
    "e20_ohlc_bars" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("event_type"), col("hr"))
        t(s, d, "events")
          .select(col("event_type"), col("ts"), col("event_id"),
            col("value"), date_trunc("hour", col("ts")).as("hr"))
          .withColumn("ra", row_number().over(
            w.orderBy(col("ts"), col("event_id"))))
          .withColumn("rd", row_number().over(
            w.orderBy(col("ts").desc, col("event_id").desc)))
          .groupBy(col("event_type"), col("hr"))
          .agg(max(when(col("ra") === 1, col("value"))).as("open"),
            max(col("value")).as("high"),
            min(col("value")).as("low"),
            max(when(col("rd") === 1, col("value"))).as("close"),
            count(lit(1)).as("n_events"),
            dsum(col("value")).as("volume"))
          .orderBy(col("event_type"), col("hr"))
      },
      Some(s"""WITH ev AS (
          SELECT event_type, event_id, value,
            cast(ts as timestamp) AS tts,
            cast(date_trunc('hour', cast(ts as timestamp)) as timestamp)
              AS hr
          FROM events),
        r AS (
          SELECT event_type, hr, value,
            row_number() OVER (PARTITION BY event_type, hr
              ORDER BY tts, event_id) AS ra,
            row_number() OVER (PARTITION BY event_type, hr
              ORDER BY tts DESC, event_id DESC) AS rd
          FROM ev)
        SELECT event_type, hr,
          max(CASE WHEN ra = 1 THEN value END) AS open,
          max(value) AS high,
          min(value) AS low,
          max(CASE WHEN rd = 1 THEN value END) AS close,
          cast(count(*) as bigint) AS n_events,
          ${sqlDsum("value")} AS volume
        FROM r GROUP BY event_type, hr
        ORDER BY event_type, hr""")),

    // ------------------------------------------------------------------
    // A/B experiment analysis — the readout an event platform runs for
    // every experiment: deterministic h60 bucketing into two arms (the
    // industry-standard hash-the-user assignment: stable across
    // sessions, reproducible by any engine, no assignment table to
    // store), per-arm user-level conversion (a HIGH-VALUE converter:
    // >= 14 purchase events — the corpus median, so the gate splits
    // users rather than admitting everyone), and a
    // two-proportion z-test decided WITHOUT computing z: at z > 2 the
    // test  (p1−p2)² > z²·p̂(1−p̂)(1/n1+1/n2)  cross-multiplies to
    //   (c1·n2 − c2·n1)²·N  >  4·n1·n2·C·(N−C)
    // (C = c1+c2, N = n1+n2) — pure integer arithmetic, e17's
    // no-sqrt/no-division trick, so the significance FLAG is identical
    // in both engines with no doubles anywhere near the decision.
    // Intermediates reach ~1e25 at sf1, past int64: Spark runs them in
    // DECIMAL(38,0), DuckDB in HUGEINT — different containers, same
    // exact integers, same boolean. Scale shape: two distinct-user
    // aggregations + a 2-row pivot; the 1-row test result is
    // cross-joined back onto the 2-row arm report.
    // ------------------------------------------------------------------
    "e19_ab_test" -> Q(
      (s, d) => {
        import org.apache.spark.sql.types.DecimalType
        val ev = t(s, d, "events")
        val users = ev.select(col("user_id")).distinct()
          .withColumn("arm",
            (graft.functions.PortableHash.h60col(
              concat(lit("exp1_"), col("user_id"))) % 2).cast("int"))
        val conv = ev.filter(col("event_type") === "purchase")
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("np"))
          .filter(col("np") >= 14)
          .select(col("user_id"))
          .withColumn("cv", lit(1L))
        val per = users.join(conv, Seq("user_id"), "left")
          .groupBy(col("arm"))
          .agg(count(lit(1)).as("n_users"),
            sum(coalesce(col("cv"), lit(0L))).as("n_conv"))
        def d38(c: Column): Column = c.cast(DecimalType(38, 0))
        val wide = per.agg(
          sum(when(col("arm") === 0, col("n_users"))).as("n1"),
          sum(when(col("arm") === 0, col("n_conv"))).as("c1"),
          sum(when(col("arm") === 1, col("n_users"))).as("n2"),
          sum(when(col("arm") === 1, col("n_conv"))).as("c2"))
        val diff = d38(col("c1")) * d38(col("n2")) -
          d38(col("c2")) * d38(col("n1"))
        val bigN = d38(col("n1") + col("n2"))
        val bigC = d38(col("c1") + col("c2"))
        val test = wide.select(
          (diff * diff * bigN >
            lit(4) * d38(col("n1")) * d38(col("n2")) * bigC *
              (bigN - bigC)).as("significant"))
        per.crossJoin(test)
          .select(col("arm"), col("n_users"), col("n_conv"),
            (col("n_conv").cast("double") /
              col("n_users").cast("double")).as("cvr"),
            col("significant"))
          .orderBy(col("arm"))
      },
      Some("""WITH u AS (SELECT DISTINCT user_id FROM events),
        a AS (SELECT user_id,
            cast(('0x' || substr(md5('exp1_' || user_id), 1, 15))::BIGINT
              % 2 as int) AS arm
          FROM u),
        c AS (SELECT user_id FROM events
          WHERE event_type = 'purchase'
          GROUP BY 1 HAVING count(*) >= 14),
        per AS (SELECT arm, cast(count(*) as bigint) AS n_users,
            cast(count(c.user_id) as bigint) AS n_conv
          FROM a LEFT JOIN c USING (user_id) GROUP BY 1),
        w AS (SELECT
            max(CASE WHEN arm = 0 THEN n_users END) AS n1,
            max(CASE WHEN arm = 0 THEN n_conv END) AS c1,
            max(CASE WHEN arm = 1 THEN n_users END) AS n2,
            max(CASE WHEN arm = 1 THEN n_conv END) AS c2
          FROM per),
        t AS (SELECT
            (cast(c1 as hugeint) * cast(n2 as hugeint) -
             cast(c2 as hugeint) * cast(n1 as hugeint)) AS diff,
            cast(n1 + n2 as hugeint) AS bn,
            cast(c1 + c2 as hugeint) AS bc,
            cast(n1 as hugeint) AS hn1, cast(n2 as hugeint) AS hn2
          FROM w),
        f AS (SELECT diff * diff * bn >
            4 * hn1 * hn2 * bc * (bn - bc) AS significant FROM t)
        SELECT per.arm, per.n_users, per.n_conv,
          cast(per.n_conv as double) / cast(per.n_users as double)
            AS cvr,
          f.significant
        FROM per, f ORDER BY arm""")),

    // ------------------------------------------------------------------
    // RFM segmentation — the classic customer-value census: per user,
    // Recency (days since last purchase, vs the corpus's max purchase
    // ts as the "as of" anchor), Frequency (purchase count), Monetary
    // (decimal-exact spend); each dimension quartiled and the 4×4×4
    // segment census emitted. Deliberately NOT ntile: ntile needs a
    // TOTAL order — an unpartitioned window is a single-partition sort
    // of the whole users table, the exact shape the plan audit exists
    // to catch. Instead the three quartile BOUNDARIES are one 9-value
    // aggregate row (exact percentile; q75's bounded census is the
    // scale path, q77's caveat) broadcast back, and each
    // user buckets ROW-LOCALLY by comparison — map-side, no global
    // sort, and the bucket rule (1 + strict-inequality indicators) is
    // deterministic in both engines on exact inputs. Corpus-scale
    // terms: the purchase scan + ONE user-keyed aggregation;
    // everything after runs on users-scale rows.
    // ------------------------------------------------------------------
    "e23_rfm_segments" -> Q(
      (s, d) => {
        val p = t(s, d, "events")
          .filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("value"))
        // ONE events scan: the users-scale per-user frame is
        // checkpointed, and the anchor derives from it (max of the
        // per-user maxima), so the boundary pass and the bucket pass
        // both read the small frame, never the events table again
        val per = p.groupBy(col("user_id")).agg(
          max(col("ts")).as("last_ts"),
          count(lit(1)).as("freq"),
          dsum(col("value")).as("monetary"))
          .localCheckpoint()
        val anchor = per.agg(max(col("last_ts")).as("anchor_ts"))
        val u = per.crossJoin(broadcast(anchor))
          .withColumn("rec_days",
            expr("(unix_micros(anchor_ts) - unix_micros(last_ts))" +
              " div 86400000000"))
        val b = u.agg(
          expr("percentile(rec_days, 0.25)").as("r25"),
          expr("percentile(rec_days, 0.5)").as("r50"),
          expr("percentile(rec_days, 0.75)").as("r75"),
          expr("percentile(freq, 0.25)").as("f25"),
          expr("percentile(freq, 0.5)").as("f50"),
          expr("percentile(freq, 0.75)").as("f75"),
          expr("percentile(monetary, 0.25)").as("m25"),
          expr("percentile(monetary, 0.5)").as("m50"),
          expr("percentile(monetary, 0.75)").as("m75"))
        def ind(c: Column): Column = c.cast("int")
        // recency: smaller = better (quartile 1 = most recent);
        // freq/monetary: bigger = better (quartile 1 = top spenders)
        u.crossJoin(broadcast(b))
          .select(
            (lit(1) + ind(col("rec_days") > col("r25")) +
              ind(col("rec_days") > col("r50")) +
              ind(col("rec_days") > col("r75"))).as("r_q"),
            (lit(1) + ind(col("freq") < col("f75")) +
              ind(col("freq") < col("f50")) +
              ind(col("freq") < col("f25"))).as("f_q"),
            (lit(1) + ind(col("monetary") < col("m75")) +
              ind(col("monetary") < col("m50")) +
              ind(col("monetary") < col("m25"))).as("m_q"),
            col("monetary"))
          .groupBy(col("r_q"), col("f_q"), col("m_q"))
          .agg(count(lit(1)).as("n_users"),
            dsum(col("monetary")).as("total_monetary"))
          .orderBy(col("r_q"), col("f_q"), col("m_q"))
      },
      Some(s"""WITH ev AS (SELECT cast(ts as timestamp) AS ts, user_id,
            event_type, value FROM events),
        p AS (SELECT user_id, ts, value FROM ev
          WHERE event_type = 'purchase'),
        per AS (SELECT user_id, max(ts) AS last_ts,
            cast(count(*) as bigint) AS freq,
            ${sqlDsum("value")} AS monetary
          FROM p GROUP BY 1),
        a AS (SELECT max(ts) AS anchor_ts FROM p),
        u AS (SELECT per.*,
            (epoch_us(a.anchor_ts) - epoch_us(per.last_ts))
              // 86400000000 AS rec_days
          FROM per, a),
        b AS (SELECT
            quantile_cont(rec_days, 0.25) AS r25,
            quantile_cont(rec_days, 0.5) AS r50,
            quantile_cont(rec_days, 0.75) AS r75,
            quantile_cont(freq, 0.25) AS f25,
            quantile_cont(freq, 0.5) AS f50,
            quantile_cont(freq, 0.75) AS f75,
            quantile_cont(monetary, 0.25) AS m25,
            quantile_cont(monetary, 0.5) AS m50,
            quantile_cont(monetary, 0.75) AS m75
          FROM u),
        q AS (SELECT
            cast(1 + (rec_days > r25)::int + (rec_days > r50)::int +
              (rec_days > r75)::int as integer) AS r_q,
            cast(1 + (freq < f75)::int + (freq < f50)::int +
              (freq < f25)::int as integer) AS f_q,
            cast(1 + (monetary < m75)::int + (monetary < m50)::int +
              (monetary < m25)::int as integer) AS m_q,
            monetary
          FROM u, b)
        SELECT r_q, f_q, m_q, cast(count(*) as bigint) AS n_users,
          ${sqlDsum("monetary")} AS total_monetary
        FROM q GROUP BY 1, 2, 3 ORDER BY r_q, f_q, m_q""")),

    // ------------------------------------------------------------------
    // Time-decay attribution — the third marketing model next to e16's
    // first/last touch, and the one a range-frame aggregate CANNOT
    // express: every touch in the 7 days before a purchase earns
    // credit 2^(6 − age_days) (halving per day), normalized per
    // purchase to exactly 1e6 ppm-ish (integer div floors, stated) and
    // summed per channel. The pairwise (touch, purchase) association
    // is a USER-KEYED interval join (e09's shape — bounded by touches
    // × purchases within one user's 7-day window, never data×data);
    // the per-purchase normalizer is one purchase-keyed window sum.
    // All arithmetic integer: 1 << (6 − age) weights, 1e6·w div Σw
    // credits — bit-identical across engines where float decay
    // (exp(-λ·age)) never could be.
    // ------------------------------------------------------------------
    "e24_decay_attribution" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val ev = t(s, d, "events")
          .select(col("event_id"), col("user_id"), col("event_type"),
            unix_timestamp(col("ts")).as("tsl"))
        val touches = ev
          .filter(col("event_type").isin("view", "click"))
          .select(col("user_id"), col("event_type").as("touch"),
            col("tsl").as("t_sl"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("p_id"),
            col("tsl").as("p_sl"))
        // Lower bound EXCLUSIVE of the 7-day boundary (604799, not
        // 604800): a touch exactly 7 days out would make age_days = 7
        // and the weight shiftleft(1, -1) — Java shift semantics
        // silently wrap that to 1 << 31 (a huge negative credit) while
        // DuckDB throws on 1 << -1. Admitting only age_days ∈ [0, 6]
        // keeps the exponent non-negative in both engines.
        val pairs = touches.join(purchases, Seq("user_id"))
          .filter(col("t_sl").between(col("p_sl") - 604799L,
            col("p_sl") - 1L))
          .withColumn("age_days",
            expr("(p_sl - t_sl) div 86400"))
          .withColumn("w",
            expr("cast(shiftleft(1, cast(6 - age_days as int)) as bigint)"))
        pairs
          .withColumn("sw",
            sum(col("w")).over(Window.partitionBy(col("p_id"))))
          .withColumn("credit_ppm", expr("1000000 * w div sw"))
          .groupBy(col("touch"))
          .agg(count(lit(1)).as("n_touches"),
            sum(col("credit_ppm")).as("credit_ppm_total"))
          .orderBy(col("touch"))
      },
      Some("""WITH ev AS (
          SELECT event_id, user_id, event_type,
            cast(floor(epoch(cast(ts as timestamp))) as bigint) AS tsl
          FROM events),
        touches AS (
          SELECT user_id, event_type AS touch, tsl AS t_sl
          FROM ev WHERE event_type IN ('view', 'click')),
        purchases AS (
          SELECT user_id, event_id AS p_id, tsl AS p_sl
          FROM ev WHERE event_type = 'purchase'),
        pairs AS (
          SELECT t.touch, p.p_id,
            (p.p_sl - t.t_sl) // 86400 AS age_days
          FROM touches t JOIN purchases p ON t.user_id = p.user_id
            AND t.t_sl BETWEEN p.p_sl - 604799 AND p.p_sl - 1),
        wt AS (
          SELECT touch, p_id,
            cast(1 << cast(6 - age_days as int) as bigint) AS w
          FROM pairs),
        nm AS (
          SELECT touch, p_id, w,
            sum(w) OVER (PARTITION BY p_id) AS sw
          FROM wt)
        SELECT touch, cast(count(*) as bigint) AS n_touches,
          cast(sum(1000000 * w // sw) as bigint) AS credit_ppm_total
        FROM nm GROUP BY touch ORDER BY touch""")),

    // ------------------------------------------------------------------
    // User-journey SIMILARITY (trajectory similarity, REPOSE/ICDE-2021
    // family, on behavioral paths): which users navigate alike? Each
    // user's trajectory set = their distinct session-path strings
    // (gap-sessionized via the shared helper, event types joined in
    // (ts, event_id) order — a deterministic ordered aggregate);
    // pairwise Jaccard over path sets via d08's AT-SCALE machinery on
    // a new domain: a df-capped posting index on the path strings
    // (ubiquitous paths — a lone 'view' — index nothing, exactly like
    // stopword shingles), candidate pairs only from shared indexed
    // paths, exact integer permille Jaccard from the per-user set
    // sizes. No user×user cross join at any scale; the path strings
    // are session-bounded so the index rows are behavior-vocabulary-
    // scale, not event-scale.
    // ------------------------------------------------------------------
    "e25_journey_similarity" -> Q(
      (s, d) => {
        val sess = sessionized(t(s, d, "events")
          .select(col("user_id"), col("event_id"), col("event_type"),
            col("ts")))
        val paths = sess.groupBy(col("user_id"), col("sid"))
          .agg(concat_ws(">", transform(
            array_sort(collect_list(struct(col("ts"), col("event_id"),
              col("event_type")))),
            x => x.getField("event_type"))).as("path"))
        val up = paths.select(col("user_id"), col("path")).distinct()
        val sizes = up.groupBy(col("user_id"))
          .agg(count(lit(1)).as("sz"))
        val dfc = up.groupBy(col("path")).agg(count(lit(1)).as("df"))
        val ok = up.join(dfc.filter(col("df") <= 50)
          .select(col("path")), "path")
        val shared = ok.select(col("user_id").as("ua"), col("path"))
          .join(ok.select(col("user_id").as("ub"), col("path")),
            Seq("path"))
          .filter(col("ua") < col("ub"))
          .groupBy(col("ua"), col("ub"))
          .agg(count(lit(1)).as("shared"))
        shared
          .join(sizes.select(col("user_id").as("ua"),
            col("sz").as("sa")), Seq("ua"))
          .join(sizes.select(col("user_id").as("ub"),
            col("sz").as("sb")), Seq("ub"))
          .select(col("ua"), col("ub"), col("shared"), col("sa"),
            col("sb"),
            expr("1000 * shared div (sa + sb - shared)")
              .as("jacc_permille"))
          .orderBy(col("jacc_permille").desc, col("ua"), col("ub"))
          .limit(20)
      },
      Some("""WITH """ + sqlSessionized() + """,
        paths AS (
          SELECT user_id, sid,
            string_agg(event_type, '>' ORDER BY tts, event_id) AS path
          FROM n GROUP BY 1, 2),
        up AS (SELECT DISTINCT user_id, path FROM paths),
        sizes AS (SELECT user_id, cast(count(*) as bigint) AS sz
          FROM up GROUP BY 1),
        dfc AS (SELECT path, count(*) AS df FROM up GROUP BY 1),
        ok AS (SELECT up.user_id, up.path FROM up
          JOIN dfc USING (path) WHERE dfc.df <= 50),
        shared AS (
          SELECT x.user_id AS ua, y.user_id AS ub,
            cast(count(*) as bigint) AS shared
          FROM ok x JOIN ok y ON x.path = y.path
            AND x.user_id < y.user_id
          GROUP BY 1, 2)
        SELECT s.ua, s.ub, s.shared, a.sz AS sa, b.sz AS sb,
          cast(1000 * s.shared // (a.sz + b.sz - s.shared) as bigint)
            AS jacc_permille
        FROM shared s
        JOIN sizes a ON a.user_id = s.ua
        JOIN sizes b ON b.user_id = s.ub
        ORDER BY jacc_permille DESC, ua, ub LIMIT 20""")),

    // ------------------------------------------------------------------
    // Rolling 7-day active users (WAU) + stickiness — the growth
    // dashboard's headline pair, and a DISTINCT-over-sliding-window
    // shape naive SQL gets quadratically wrong (a per-day correlated
    // "COUNT(DISTINCT) WHERE day BETWEEN d-6 AND d" rescans the fact
    // table per day). Scale shape: ONE distinct over (user, day) —
    // the only data-scale shuffle — then each user-day replicates to
    // the ≤ 7 window ends it supports (row-local explode, ×7 not ×N),
    // a second distinct on (user, window_end), and a count per end.
    // Window ends clip to days that actually occur (semi join against
    // the day dimension — day-cardinality, metadata-scale).
    // Stickiness = DAU·1000 div WAU, the integer-permille DAU/WAU
    // ratio. At 100 TB: two hash shuffles of user-day (not event)
    // granularity and a 7× bounded blowup — never day × corpus.
    // ------------------------------------------------------------------
    "e27_rolling_wau" -> Q(
      (s, d) => {
        val ud = t(s, d, "events")
          .select(col("user_id"), to_date(col("ts")).as("day"))
          .distinct()
        val days = ud.select(col("day")).distinct()
        val dau = ud.groupBy(col("day"))
          .agg(count(lit(1)).as("dau"))
        val wau = ud
          .select(col("user_id"),
            explode(sequence(lit(0), lit(6))).as("i"), col("day"))
          .select(col("user_id"),
            date_add(col("day"), col("i")).as("day"))
          .distinct()
          .join(days, Seq("day"), "left_semi")
          .groupBy(col("day"))
          .agg(count(lit(1)).as("wau"))
        dau.join(wau, Seq("day"))
          .select(col("day"), col("dau"), col("wau"),
            expr("dau * 1000 div wau").as("stickiness_pm"))
          .orderBy(col("day"))
      },
      Some("""WITH ud AS (
          SELECT DISTINCT user_id, cast(ts as timestamp)::DATE AS day
          FROM events),
        days AS (SELECT DISTINCT day FROM ud),
        dau AS (
          SELECT day, cast(count(*) as bigint) AS dau
          FROM ud GROUP BY day),
        ends AS (
          SELECT DISTINCT ud.user_id,
            ud.day + cast(i as integer) AS day
          FROM ud, range(0, 7) t(i)),
        wau AS (
          SELECT e.day, cast(count(*) as bigint) AS wau
          FROM ends e WHERE e.day IN (SELECT day FROM days)
          GROUP BY e.day)
        SELECT d.day, d.dau, w.wau,
          cast(d.dau * 1000 // w.wau as bigint) AS stickiness_pm
        FROM dau d JOIN wau w ON d.day = w.day
        ORDER BY d.day""")),

    // ------------------------------------------------------------------
    // Time-WEIGHTED average (TWAP) — the step-function integral the
    // arithmetic mean gets wrong whenever observations are unevenly
    // spaced (a value held for an hour must count 3600× a value held
    // a second — the standard finance/metrics semantics). Each event's
    // value "holds" until the SAME USER's next event (lead over the
    // µs-total-ordered user timeline; last events have no duration and
    // drop out); per event_type: Σ(value·dur) / Σ(dur).
    //
    // Arithmetic discipline: durations in WHOLE SECONDS (µs diff
    // integer-div 1e6 — sub-second holds floor to 0, stated), so
    // value·dur keeps value's 2 decimals and the dsum decimal(18,2)
    // cast is exact (µs-weighted products would overflow the unscaled
    // 2^53 budget at ~490 × 2.6e12). The final TWA is one double
    // division of two bit-identical operands. Scale: the window is
    // USER-keyed (millions of partitions at 100 TB, never global) and
    // the agg is 5 groups.
    // ------------------------------------------------------------------
    "e26_twap" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("tus"), col("event_id"))
        t(s, d, "events")
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("value"), unix_micros(col("ts")).as("tus"))
          .withColumn("nxt", lead(col("tus"), 1).over(w))
          // integer division (`div`), NOT `/` — Column./ on longs is
          // IEEE double division and would round instead of floor
          .withColumn("dur_s", expr("(nxt - tus) div 1000000"))
          .filter(col("dur_s").isNotNull)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_intervals"),
            sum(col("dur_s")).as("total_dur_s"),
            (dsum(col("value") * col("dur_s")) /
              sum(col("dur_s"))).cast("double").as("twa"))
          .orderBy(col("event_type"))
      },
      Some("""WITH ev AS (
          SELECT event_id, user_id, event_type, value,
            epoch_us(cast(ts as timestamp)) AS tus
          FROM events),
        g AS (
          SELECT event_type, value,
            (lead(tus, 1) OVER (PARTITION BY user_id
              ORDER BY tus, event_id) - tus) // 1000000 AS dur_s
          FROM ev)
        SELECT event_type,
          cast(count(*) as bigint) AS n_intervals,
          cast(sum(dur_s) as bigint) AS total_dur_s,
          cast(cast(sum(cast(value * dur_s as decimal(18,2))) as double)
            / cast(sum(dur_s) as bigint) as double) AS twa
        FROM g WHERE dur_s IS NOT NULL
        GROUP BY event_type ORDER BY event_type""")),


    // ------------------------------------------------------------------
    // Holt linear-trend exponential smoothing (α = β = 0.5) over the
    // per-type daily event-count series — the FORECASTING rung the
    // time-series family lacked (e14 detects anomalies against a
    // trailing window, e26 time-weights the past; nothing projected
    // forward). Level/trend recurrence l' = αy + (1−α)(l+b),
    // b' = β(l'−l) + (1−β)b from l₁ = y₁, b₁ = 0, plus the running
    // one-step-ahead squared-error (the in-sample fit quality a
    // forecast consumer gates on) and the h = 1/3/7-day projections
    // l + h·b. Scale shape: ONE data-scale aggregation (event_type ×
    // day — the e01 shape) collapses 100 TB of events to a
    // days-per-type census; the recurrence is an ORDERED left fold
    // over each ≤days-long list (the x35/x39 discipline — a raw
    // double SUM would not be order-stable, and Holt is inherently
    // sequential), so the sequential part runs on metadata-scale
    // lists, never on rows. α = β = 0.5 keeps every smoothing
    // coefficient exactly representable in binary; the fold body is
    // written in identical operation order in both engines (DuckDB
    // replays it via list_reduce over a [l, b, sse] list state —
    // struct reduce states miscompute in DuckDB 1.0, the mm09
    // finding).
    // ------------------------------------------------------------------
    "e28_holt_forecast" -> Q(
      (s, d) => {
        val series = dailySeries(s, d)
        def a1(acc: Column) = element_at(acc, 1)
        def a2(acc: Column) = element_at(acc, 2)
        def a3(acc: Column) = element_at(acc, 3)
        series
          .withColumn("n_days", size(col("ys")).cast("long"))
          .withColumn("st", aggregate(
            slice(col("ys"), lit(2), size(col("ys")) - 1),
            array(element_at(col("ys"), 1), lit(0.0), lit(0.0)),
            (acc, y) => array(
              lit(0.5) * y + lit(0.5) * (a1(acc) + a2(acc)),
              lit(0.5) * ((lit(0.5) * y + lit(0.5) * (a1(acc) + a2(acc)))
                - a1(acc)) + lit(0.5) * a2(acc),
              a3(acc) + (y - (a1(acc) + a2(acc)))
                * (y - (a1(acc) + a2(acc))))))
          .select(col("event_type"), col("n_days"),
            element_at(col("st"), 1).as("level"),
            element_at(col("st"), 2).as("trend"),
            element_at(col("st"), 3).as("sse"),
            (element_at(col("st"), 1) + lit(1.0) * element_at(col("st"), 2))
              .as("fc_1"),
            (element_at(col("st"), 1) + lit(3.0) * element_at(col("st"), 2))
              .as("fc_3"),
            (element_at(col("st"), 1) + lit(7.0) * element_at(col("st"), 2))
              .as("fc_7"))
          .orderBy(col("event_type"))
      },
      Some("""WITH """ + sqlDailySeries + """,
        f AS (
          SELECT event_type, len(ys) AS n_days,
            list_reduce(list_prepend([ys[1], 0.0, 0.0],
              list_transform(ys[2:], y -> [y, 0.0, 0.0])),
              (acc, x) -> [
                0.5 * x[1] + 0.5 * (acc[1] + acc[2]),
                0.5 * ((0.5 * x[1] + 0.5 * (acc[1] + acc[2])) - acc[1])
                  + 0.5 * acc[2],
                acc[3] + (x[1] - (acc[1] + acc[2]))
                  * (x[1] - (acc[1] + acc[2]))]) AS st
          FROM ser)
        SELECT event_type, cast(n_days as bigint) AS n_days,
          st[1] AS level, st[2] AS trend, st[3] AS sse,
          st[1] + 1.0 * st[2] AS fc_1, st[1] + 3.0 * st[2] AS fc_3,
          st[1] + 7.0 * st[2] AS fc_7
        FROM f ORDER BY event_type""")),


    // ------------------------------------------------------------------
    // Autocorrelation function of the per-type daily series at lags
    // 1-7 — e28's diagnostic sibling: BEFORE trusting a trend
    // forecast, a pipeline checks whether the series is periodic (a
    // weekly cycle shows as a lag-7 spike; this synthetic corpus reads
    // honestly near-noise, |acf| ≤ 0.33). Same one data-scale
    // aggregation as e28 collapses events to the days-per-type census;
    // mean, denominator, and every lagged numerator are ORDERED left
    // folds over the metadata-scale day lists (the x35 discipline —
    // unordered double SUMs would not be bit-stable), and each
    // acf_k = num_k / den is a single division of identically-derived
    // doubles. The lag expansion is a 7-element literal explode per
    // type row — no join.
    // ------------------------------------------------------------------
    "e29_acf_daily" -> Q(
      (s, d) => {
        val ser = dailySeries(s, d)
        ser
          .withColumn("n", size(col("ys")))
          .withColumn("mu", aggregate(col("ys"), lit(0.0),
            (a, b) => a + b) / col("n").cast("double"))
          .withColumn("den", aggregate(col("ys"), lit(0.0),
            (a, y) => a + (y - col("mu")) * (y - col("mu"))))
          .withColumn("lg", explode(sequence(lit(1), lit(7))))
          .select(col("event_type"), col("lg").cast("long").as("lag"),
            (col("n") - col("lg")).cast("long").as("n_pairs"),
            (aggregate(sequence(lit(1), col("n") - col("lg")), lit(0.0),
              (a, tt) => a + (element_at(col("ys"), tt) - col("mu")) *
                (element_at(col("ys"), tt + col("lg")) - col("mu"))) /
              col("den")).as("acf"))
          .orderBy(col("event_type"), col("lag"))
      },
      Some("""WITH """ + sqlDailySeries + """,
        m AS (
          SELECT event_type, ys, len(ys) AS n,
            list_reduce(list_prepend(0.0, ys), (a, b) -> a + b) /
              cast(len(ys) as double) AS mu
          FROM ser),
        dn AS (
          SELECT event_type, ys, n, mu,
            list_reduce(list_prepend(0.0, list_transform(ys, y ->
              (y - mu) * (y - mu))), (a, b) -> a + b) AS den
          FROM m),
        lags AS (SELECT unnest(range(1, 8)) AS lag),
        acf AS (
          SELECT d.event_type, l.lag, cast(d.n - l.lag as bigint)
              AS n_pairs,
            list_reduce(list_prepend(0.0, list_transform(
              range(1, cast(d.n - l.lag as int) + 1), t ->
                (d.ys[t] - d.mu) * (d.ys[t + l.lag] - d.mu))),
              (a, b) -> a + b) / d.den AS acf
          FROM dn d, lags l)
        SELECT event_type, cast(lag as bigint) AS lag, n_pairs, acf
        FROM acf ORDER BY event_type, lag""")),


    // ------------------------------------------------------------------
    // Holt-Winters ADDITIVE-SEASONAL smoothing (α = β = γ = 0.5,
    // period m = 7) over the per-type daily counts — the seasonal rung
    // above e28's trend-only Holt (e29 is the diagnostic that tells a
    // pipeline whether a weekly cycle exists; this is the forecaster
    // that exploits one). Classic init on the first week: l₀ =
    // mean(y₁..y₇), b₀ = 0, sᵢ = yᵢ − l₀; then for t ≥ 8 the
    // recurrences l' = α(y − s_old) + (1−α)(l+b), b' = β(l'−l) +
    // (1−β)b, s_new = γ(y − l') + (1−γ)s_old over a ROTATING
    // 10-slot list state [l, b, s₁..s₇, sse] (head seasonal slot is
    // always the one the current day consumes; each step drops it and
    // appends s_new). Forecast ŷ_{n+h} = l + h·b + s_h for h = 1..7 —
    // the final rotation leaves slot h aligned with day n+h. Scale
    // shape: identical to e28 — ONE data-scale aggregation collapses
    // the events to a days-per-type census, the inherently-sequential
    // recurrence is an ordered left fold over metadata-scale lists,
    // and all smoothing coefficients are exactly representable so the
    // DuckDB list_reduce replay (LIST state — struct states
    // miscompute, the mm09 finding) is bit-identical.
    // ------------------------------------------------------------------
    "e30_holt_winters" -> Q(
      (s, d) => {
        val ser = dailySeries(s, d)
          .filter(size(col("ys")) >= 8)
        def e(acc: Column, i: Int) = element_at(acc, i)
        val folded = ser
          .withColumn("n_days", size(col("ys")).cast("long"))
          .withColumn("l0", aggregate(slice(col("ys"), 1, 7), lit(0.0),
            (a, b) => a + b) / lit(7.0))
          .withColumn("st", aggregate(
            slice(col("ys"), lit(8), size(col("ys")) - 7),
            array((Seq(col("l0"), lit(0.0)) ++
              (1 to 7).map(i => element_at(col("ys"), i) - col("l0")) ++
              Seq(lit(0.0))): _*),
            (acc, y) => {
              // one Column val = one expression TREE reused verbatim in
              // three slots — identical operation order to the oracle's
              // spelled-out l' subexpression
              val lNew = lit(0.5) * (y - e(acc, 3)) +
                lit(0.5) * (e(acc, 1) + e(acc, 2))
              val err = y - (e(acc, 1) + e(acc, 2) + e(acc, 3))
              array(
                lNew,
                lit(0.5) * (lNew - e(acc, 1)) + lit(0.5) * e(acc, 2),
                e(acc, 4), e(acc, 5), e(acc, 6), e(acc, 7), e(acc, 8),
                e(acc, 9),
                lit(0.5) * (y - lNew) + lit(0.5) * e(acc, 3),
                e(acc, 10) + err * err)
            }))
        folded
          .withColumn("h", explode(sequence(lit(1), lit(7))))
          .select(col("event_type"), col("n_days"),
            col("h").cast("long").as("horizon"),
            e(col("st"), 1).as("level"), e(col("st"), 2).as("trend"),
            e(col("st"), 10).as("sse"),
            element_at(col("st"), col("h") + 2).as("seasonal"),
            (e(col("st"), 1) + col("h").cast("double") * e(col("st"), 2) +
              element_at(col("st"), col("h") + 2)).as("fc"))
          .orderBy(col("event_type"), col("horizon"))
      },
      Some("""WITH """ + sqlDailySeries + """,
        ini AS (
          SELECT event_type, ys, len(ys) AS n,
            list_reduce(list_prepend(0.0, ys[1:7]), (a, b) -> a + b) / 7.0
              AS l0
          FROM ser WHERE len(ys) >= 8),
        st AS (
          SELECT event_type, n,
            list_reduce(
              list_prepend(
                [l0, 0.0, ys[1] - l0, ys[2] - l0, ys[3] - l0, ys[4] - l0,
                 ys[5] - l0, ys[6] - l0, ys[7] - l0, 0.0],
                list_transform(ys[8:], y ->
                  [y, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0])),
              (acc, x) -> [
                0.5 * (x[1] - acc[3]) + 0.5 * (acc[1] + acc[2]),
                0.5 * ((0.5 * (x[1] - acc[3]) + 0.5 * (acc[1] + acc[2]))
                  - acc[1]) + 0.5 * acc[2],
                acc[4], acc[5], acc[6], acc[7], acc[8], acc[9],
                0.5 * (x[1] - (0.5 * (x[1] - acc[3])
                  + 0.5 * (acc[1] + acc[2]))) + 0.5 * acc[3],
                acc[10] + (x[1] - (acc[1] + acc[2] + acc[3]))
                  * (x[1] - (acc[1] + acc[2] + acc[3]))]) AS s
          FROM ini),
        h AS (SELECT unnest(range(1, 8)) AS h)
        SELECT st.event_type, cast(st.n as bigint) AS n_days,
          cast(h.h as bigint) AS horizon,
          st.s[1] AS level, st.s[2] AS trend, st.s[10] AS sse,
          st.s[2 + cast(h.h as int)] AS seasonal,
          st.s[1] + cast(h.h as double) * st.s[2]
            + st.s[2 + cast(h.h as int)] AS fc
        FROM st, h ORDER BY st.event_type, h.h""")),


    // ------------------------------------------------------------------
    // CUSUM changepoint detection over the per-type daily series —
    // the structural-break diagnostic between e14's local anomaly flag
    // and e28/e30's forecasts (a forecaster fitted across an
    // undetected regime change is garbage; a pipeline runs THIS
    // first). The classic estimator argmax_t |Σ_{i≤t}(y_i − ȳ)| is
    // rational in ȳ; scaling by n makes it INTEGER-exact:
    // D_t = n·cumsum_t − t·S (= n·t·(mean_{≤t} − mean_all)), so the
    // argmax (|D| DESC, t ASC on ties, t = n excluded as D_n ≡ 0) and
    // every census field except the final mean-shift double are exact
    // int64 — no double enters the LOCATION decision. Scale shape:
    // the e01 daily-census aggregation collapses the data scale; the
    // windows run over the ≤days-per-type census (metadata scale).
    // At 100 TB: n·S ≤ 10⁴ days · 10¹² events ≈ 10¹⁶ < 2⁶³.
    // ------------------------------------------------------------------
    "e31_cusum_changepoint" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val daily = t(s, d, "events")
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("cnt"))
        val wOrd = Window.partitionBy(col("event_type")).orderBy(col("day"))
        val wAll = Window.partitionBy(col("event_type"))
        val dev = daily
          .withColumn("t", row_number().over(wOrd).cast("long"))
          .withColumn("cs", sum(col("cnt")).over(wOrd))
          .withColumn("n", count(lit(1)).over(wAll))
          .withColumn("s", sum(col("cnt")).over(wAll))
          .filter(col("t") < col("n"))
          .withColumn("d", col("n") * col("cs") - col("t") * col("s"))
        val wrk = Window.partitionBy(col("event_type"))
          .orderBy(abs(col("d")).desc, col("t").asc)
        dev.withColumn("rn", row_number().over(wrk))
          .filter(col("rn") === 1)
          .select(col("event_type"), col("n").as("n_days"),
            col("t").as("cp_idx"), col("day").as("cp_day"),
            abs(col("d")).as("cusum_max"),
            col("t").as("pre_days"),
            (col("n") - col("t")).as("post_days"),
            col("cs").as("pre_sum"),
            (col("s") - col("cs")).as("post_sum"),
            ((col("s") - col("cs")).cast("double") /
              (col("n") - col("t")).cast("double") -
              col("cs").cast("double") / col("t").cast("double"))
              .as("mean_shift"))
          .orderBy(col("event_type"))
      },
      Some("""WITH daily AS (
          SELECT event_type, cast(cast(ts as timestamp) as date) AS day,
            cast(count(*) as bigint) AS cnt
          FROM events GROUP BY 1, 2),
        idxd AS (
          SELECT event_type, day, cnt,
            cast(row_number() OVER (PARTITION BY event_type
              ORDER BY day) as bigint) AS t,
            cast(sum(cnt) OVER (PARTITION BY event_type
              ORDER BY day) as bigint) AS cs,
            cast(count(*) OVER (PARTITION BY event_type) as bigint) AS n,
            cast(sum(cnt) OVER (PARTITION BY event_type) as bigint) AS s
          FROM daily),
        dev AS (
          SELECT event_type, day, t, n, s, cs, n * cs - t * s AS d
          FROM idxd WHERE t < n),
        rk AS (
          SELECT *, row_number() OVER (PARTITION BY event_type
            ORDER BY abs(d) DESC, t ASC) AS rn
          FROM dev)
        SELECT event_type, cast(n as bigint) AS n_days, t AS cp_idx,
          day AS cp_day, cast(abs(d) as bigint) AS cusum_max,
          t AS pre_days, cast(n - t as bigint) AS post_days,
          cs AS pre_sum, cast(s - cs as bigint) AS post_sum,
          cast(s - cs as double) / cast(n - t as double)
            - cast(cs as double) / cast(t as double) AS mean_shift
        FROM rk WHERE rn = 1 ORDER BY event_type""")),


    // ------------------------------------------------------------------
    // Forecast EVALUATION: MASE (mean absolute scaled error, Hyndman &
    // Koehler) on a last-7-day holdout — the rung that closes the
    // forecasting loop (e29 diagnoses, e31 checks for breaks, e28/e30
    // forecast, THIS one says whether to trust them). Train = all but
    // the last week; Holt (e28's exact fold) forecasts h = 1..7 from
    // the train endpoint; the competitor is the seasonal-naive
    // y[t−7]; both MAEs scale by the IN-SAMPLE seasonal-naive MAE
    // (the standard MASE denominator — integer |differences| of
    // counts, so the denominator is exact before its single
    // division). MASE < 1 = beats naive; on this corpus Holt wins
    // only 2/5 types — the honest readout an evaluation operator
    // exists to produce. Scale shape: e28's — one data-scale daily
    // census aggregation, every fold over metadata-scale day lists
    // in fixed h-/t-order.
    // ------------------------------------------------------------------
    "e32_forecast_mase" -> Q(
      (s, d) => {
        val ser = dailySeries(s, d)
          .filter(size(col("ys")) >= 15)
          .withColumn("n", size(col("ys")))
          .withColumn("ntr", size(col("ys")) - 7)
        def e(acc: Column, i: Int) = element_at(acc, i)
        val fit = ser.withColumn("lb", aggregate(
          slice(col("ys"), lit(2), col("ntr") - 1),
          array(element_at(col("ys"), 1), lit(0.0)),
          (acc, y) => {
            val lNew = lit(0.5) * y + lit(0.5) * (e(acc, 1) + e(acc, 2))
            array(lNew, lit(0.5) * (lNew - e(acc, 1)) + lit(0.5) * e(acc, 2))
          }))
        val ev = fit.select(col("event_type"),
          col("n").cast("long").as("n_days"),
          col("ntr").cast("long").as("n_train"),
          e(col("lb"), 1).as("holt_level"),
          e(col("lb"), 2).as("holt_trend"),
          (aggregate(sequence(lit(1), lit(7)), lit(0.0), (a, h) =>
            a + abs(element_at(col("ys"), col("ntr") + h) -
              (e(col("lb"), 1) + h.cast("double") * e(col("lb"), 2)))) /
            lit(7.0)).as("mae_holt"),
          (aggregate(sequence(lit(1), lit(7)), lit(0.0), (a, h) =>
            a + abs(element_at(col("ys"), col("ntr") + h) -
              element_at(col("ys"), col("ntr") + h - 7))) /
            lit(7.0)).as("mae_snaive"),
          (aggregate(sequence(lit(8), col("ntr")), lit(0.0), (a, tt) =>
            a + abs(element_at(col("ys"), tt) -
              element_at(col("ys"), tt - 7))) /
            (col("ntr") - 7).cast("double")).as("denom_mae"))
        ev.select(col("event_type"), col("n_days"), col("n_train"),
          col("holt_level"), col("holt_trend"),
          col("mae_holt"), col("mae_snaive"), col("denom_mae"),
          (col("mae_holt") / col("denom_mae")).as("mase_holt"),
          (col("mae_snaive") / col("denom_mae")).as("mase_snaive"),
          (col("mae_holt") < col("mae_snaive")).as("holt_beats"))
          .orderBy(col("event_type"))
      },
      Some("""WITH """ + sqlDailySeries + """,
        sz AS (
          SELECT event_type, ys, len(ys) AS n, len(ys) - 7 AS ntr
          FROM ser WHERE len(ys) >= 15),
        fit AS (
          SELECT event_type, ys, n, ntr,
            list_reduce(list_prepend([ys[1], 0.0],
              list_transform(ys[2:ntr], y -> [y, 0.0])),
              (acc, x) -> [
                0.5 * x[1] + 0.5 * (acc[1] + acc[2]),
                0.5 * ((0.5 * x[1] + 0.5 * (acc[1] + acc[2])) - acc[1])
                  + 0.5 * acc[2]]) AS lb
          FROM sz),
        ev AS (
          SELECT event_type, cast(n as bigint) AS n_days,
            cast(ntr as bigint) AS n_train,
            lb[1] AS holt_level, lb[2] AS holt_trend,
            list_reduce(list_prepend(0.0, list_transform(range(1, 8), h ->
              abs(ys[cast(ntr + h as int)] -
                (lb[1] + cast(h as double) * lb[2])))),
              (a, b) -> a + b) / 7.0 AS mae_holt,
            list_reduce(list_prepend(0.0, list_transform(range(1, 8), h ->
              abs(ys[cast(ntr + h as int)] -
                ys[cast(ntr + h - 7 as int)]))),
              (a, b) -> a + b) / 7.0 AS mae_snaive,
            list_reduce(list_prepend(0.0,
              list_transform(range(8, cast(ntr as int) + 1), t ->
                abs(ys[cast(t as int)] - ys[cast(t - 7 as int)]))),
              (a, b) -> a + b) / cast(ntr - 7 as double) AS denom_mae
          FROM fit)
        SELECT event_type, n_days, n_train, holt_level, holt_trend,
          mae_holt, mae_snaive, denom_mae,
          mae_holt / denom_mae AS mase_holt,
          mae_snaive / denom_mae AS mase_snaive,
          mae_holt < mae_snaive AS holt_beats
        FROM ev ORDER BY event_type""")),


    // ------------------------------------------------------------------
    // Prediction-INTERVAL calibration for the Holt-Winters forecaster —
    // the last rung of the forecast loop (e29 diagnoses, e31 checks for
    // breaks, e30 forecasts, e32 scores the point forecast; THIS one
    // asks whether the UNCERTAINTY is honest): fit e30's exact fold on
    // all-but-the-last-week, build 95% bands fc_h ± 1.96·rmse·√h (the
    // dashboard convention: in-sample one-step rmse scaled by √h —
    // the exact HW variance recursion is model-specific and this is
    // the one consumers actually plot), and report per horizon whether
    // the actual landed inside. Honest readout: 30/35 in-band ≈ 86%
    // against the 95% nominal — the bands are slightly overconfident
    // on this corpus, which is precisely what a calibration census
    // exists to reveal. Exactness: every op after the integer census
    // is correctly-rounded IEEE (divide/multiply/sqrt; the x46 lesson
    // — no ln anywhere), folds are ordered, and the in-band verdicts
    // compare identically-derived doubles.
    // ------------------------------------------------------------------
    "e33_hw_band_calibration" -> Q(
      (s, d) => {
        val ser = dailySeries(s, d)
          .filter(size(col("ys")) >= 22)
          .withColumn("n", size(col("ys")))
          .withColumn("ntr", size(col("ys")) - 7)
        def e(acc: Column, i: Int) = element_at(acc, i)
        val folded = ser
          .withColumn("l0", aggregate(slice(col("ys"), 1, 7), lit(0.0),
            (a, b) => a + b) / lit(7.0))
          .withColumn("st", aggregate(
            slice(col("ys"), lit(8), col("ntr") - 7),
            array((Seq(col("l0"), lit(0.0)) ++
              (1 to 7).map(i => element_at(col("ys"), i) - col("l0")) ++
              Seq(lit(0.0))): _*),
            (acc, y) => {
              val lNew = lit(0.5) * (y - e(acc, 3)) +
                lit(0.5) * (e(acc, 1) + e(acc, 2))
              val err = y - (e(acc, 1) + e(acc, 2) + e(acc, 3))
              array(
                lNew,
                lit(0.5) * (lNew - e(acc, 1)) + lit(0.5) * e(acc, 2),
                e(acc, 4), e(acc, 5), e(acc, 6), e(acc, 7), e(acc, 8),
                e(acc, 9),
                lit(0.5) * (y - lNew) + lit(0.5) * e(acc, 3),
                e(acc, 10) + err * err)
            }))
          .withColumn("rmse",
            sqrt(element_at(col("st"), 10) /
              (col("ntr") - 7).cast("double")))
        val withH = folded
          .withColumn("h", explode(sequence(lit(1), lit(7))))
        val fc = e(col("st"), 1) + col("h").cast("double") *
          e(col("st"), 2) + element_at(col("st"), col("h") + 2)
        val half = lit(1.96) * col("rmse") *
          sqrt(col("h").cast("double"))
        val y = element_at(col("ys"), col("ntr") + col("h"))
        withH.select(col("event_type"), col("n").cast("long").as("n_days"),
          col("h").cast("long").as("horizon"),
          fc.as("fc"), y.as("y_actual"), col("rmse"),
          (fc - half).as("lo"), (fc + half).as("hi"),
          (y >= fc - half && y <= fc + half).as("in_band"))
          .orderBy(col("event_type"), col("horizon"))
      },
      Some("""WITH """ + sqlDailySeries + """,
        sz AS (
          SELECT event_type, ys, len(ys) AS n, len(ys) - 7 AS ntr
          FROM ser WHERE len(ys) >= 22),
        ini AS (
          SELECT event_type, ys, n, ntr,
            list_reduce(list_prepend(0.0, ys[1:7]), (a, b) -> a + b) / 7.0
              AS l0
          FROM sz),
        st AS (
          SELECT event_type, ys, n, ntr,
            list_reduce(
              list_prepend(
                [l0, 0.0, ys[1] - l0, ys[2] - l0, ys[3] - l0, ys[4] - l0,
                 ys[5] - l0, ys[6] - l0, ys[7] - l0, 0.0],
                list_transform(ys[8:ntr], y ->
                  [y, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0])),
              (acc, x) -> [
                0.5 * (x[1] - acc[3]) + 0.5 * (acc[1] + acc[2]),
                0.5 * ((0.5 * (x[1] - acc[3]) + 0.5 * (acc[1] + acc[2]))
                  - acc[1]) + 0.5 * acc[2],
                acc[4], acc[5], acc[6], acc[7], acc[8], acc[9],
                0.5 * (x[1] - (0.5 * (x[1] - acc[3])
                  + 0.5 * (acc[1] + acc[2]))) + 0.5 * acc[3],
                acc[10] + (x[1] - (acc[1] + acc[2] + acc[3]))
                  * (x[1] - (acc[1] + acc[2] + acc[3]))]) AS s
          FROM ini),
        rm AS (
          SELECT *, sqrt(s[10] / cast(ntr - 7 as double)) AS rmse
          FROM st),
        h AS (SELECT unnest(range(1, 8)) AS h)
        SELECT rm.event_type, cast(rm.n as bigint) AS n_days,
          cast(h.h as bigint) AS horizon,
          rm.s[1] + cast(h.h as double) * rm.s[2]
            + rm.s[2 + cast(h.h as int)] AS fc,
          rm.ys[cast(rm.ntr + h.h as int)] AS y_actual,
          rm.rmse,
          (rm.s[1] + cast(h.h as double) * rm.s[2]
            + rm.s[2 + cast(h.h as int)])
            - 1.96 * rm.rmse * sqrt(cast(h.h as double)) AS lo,
          (rm.s[1] + cast(h.h as double) * rm.s[2]
            + rm.s[2 + cast(h.h as int)])
            + 1.96 * rm.rmse * sqrt(cast(h.h as double)) AS hi,
          rm.ys[cast(rm.ntr + h.h as int)] >=
            (rm.s[1] + cast(h.h as double) * rm.s[2]
              + rm.s[2 + cast(h.h as int)])
              - 1.96 * rm.rmse * sqrt(cast(h.h as double))
          AND rm.ys[cast(rm.ntr + h.h as int)] <=
            (rm.s[1] + cast(h.h as double) * rm.s[2]
              + rm.s[2 + cast(h.h as int)])
              + 1.96 * rm.rmse * sqrt(cast(h.h as double)) AS in_band
        FROM rm, h ORDER BY rm.event_type, h.h""")),

    // ------------------------------------------------------------------
    // Z-order OPTIMIZE, executed for real — e11 computes the Morton
    // key and e14 SIMULATES the zone maps; this entry actually WRITES
    // events in both physical layouts (arrival = 2048-row ingestion
    // blocks; optimized = one file per contiguous 8×8 z-tile, the
    // rewrite a lakehouse OPTIMIZE ZORDER BY performs), READS the
    // files back from disk, and derives each layout's zone map from
    // what is physically there — n files, files whose on-disk
    // (ux, my) envelope intersects e14's 2-D predicate, rows a
    // stats-pruned scan decodes, rows matched. File assignment is the
    // explicit partitionBy key (z >> 6 / event_id div 2048) — pure
    // arithmetic, so the DuckDB oracle replays the whole on-disk
    // layout without reading a footer: the hash match proves the
    // WRITTEN files carry exactly the envelopes the Z-order math
    // promises. The physical row-group-pruning counterpart (actual
    // FileSourceScan metrics under the same predicate, PushedFilters
    // on ux/my) is asserted in ZoneMapSpec — scan metrics are
    // environment-shaped, so the spec proves the reduction and this
    // census pins the numbers both engines can agree on. rows_matched
    // is layout-invariant by construction; rows_scanned is the cost.
    // ------------------------------------------------------------------
    "e34_zorder_optimize" -> Q(
      (s, d) => {
        val uxLo = 8L; val uxHi = 23L
        val myLo = 16L; val myHi = 47L
        val ev = t(s, d, "events")
          .select(col("event_id"),
            pmod(col("user_id"), lit(64L)).as("ux"),
            pmod(expr("unix_seconds(ts) div 60"), lit(60L)).as("my"))
          .select(col("event_id"), col("ux"), col("my"),
            interleave(col("ux"), col("my"), 6).as("z"))
        val base = indexPath(s, d, "zorder-optimize")
        ev.withColumn("f", expr("event_id div 2048"))
          .write.mode("overwrite").partitionBy("f")
          .parquet(s"$base/arrival")
        ev.withColumn("f", shiftright(col("z"), 6))
          .write.mode("overwrite").partitionBy("f")
          .parquet(s"$base/zorder")
        val pred = col("ux").between(uxLo, uxHi) &&
          col("my").between(myLo, myHi)
        def census(layout: String) = s.read.parquet(s"$base/$layout")
          .groupBy(col("f"))
          .agg(count(lit(1)).as("n"),
            min(col("ux")).as("lo_ux"), max(col("ux")).as("hi_ux"),
            min(col("my")).as("lo_my"), max(col("my")).as("hi_my"),
            count(when(pred, 1)).as("n_match"))
          .withColumn("hit",
            col("lo_ux") <= uxHi && col("hi_ux") >= uxLo &&
              col("lo_my") <= myHi && col("hi_my") >= myLo)
          .groupBy()
          .agg(count(lit(1)).as("n_files"),
            count(when(col("hit"), 1)).as("files_hit"),
            coalesce(sum(when(col("hit"), col("n"))), lit(0L))
              .as("rows_scanned"),
            sum(col("n_match")).as("rows_matched"))
          .select(lit(layout).as("layout"), col("n_files"),
            col("files_hit"), col("rows_scanned"), col("rows_matched"))
        census("arrival").unionAll(census("zorder"))
          .orderBy(col("layout"))
      },
      Some {
        val xBits = (0 until 6)
          .map(i => s"(((ux >> $i) & 1) << ${2 * i})").mkString(" | ")
        val yBits = (0 until 6)
          .map(i => s"(((my >> $i) & 1) << ${2 * i + 1})").mkString(" | ")
        s"""WITH ev AS MATERIALIZED (
          SELECT event_id, ux, my, ($xBits) | ($yBits) AS z FROM (
            SELECT event_id, user_id % 64 AS ux,
              (cast(floor(epoch(cast(ts as timestamp))) as bigint) // 60)
                % 60 AS my
            FROM events) b),
        fa AS (
          SELECT event_id // 2048 AS f, count(*) AS n,
            min(ux) AS lo_ux, max(ux) AS hi_ux,
            min(my) AS lo_my, max(my) AS hi_my,
            count(*) FILTER (WHERE ux BETWEEN 8 AND 23
              AND my BETWEEN 16 AND 47) AS n_match
          FROM ev GROUP BY 1),
        fz AS (
          SELECT z >> 6 AS f, count(*) AS n,
            min(ux) AS lo_ux, max(ux) AS hi_ux,
            min(my) AS lo_my, max(my) AS hi_my,
            count(*) FILTER (WHERE ux BETWEEN 8 AND 23
              AND my BETWEEN 16 AND 47) AS n_match
          FROM ev GROUP BY 1),
        roll AS (
          SELECT 'arrival' AS layout,
            cast(count(*) as bigint) AS n_files,
            cast(count(*) FILTER (WHERE lo_ux <= 23 AND hi_ux >= 8
              AND lo_my <= 47 AND hi_my >= 16) as bigint) AS files_hit,
            cast(coalesce(sum(n) FILTER (WHERE lo_ux <= 23
              AND hi_ux >= 8 AND lo_my <= 47 AND hi_my >= 16),
              0) as bigint) AS rows_scanned,
            cast(sum(n_match) as bigint) AS rows_matched
          FROM fa
          UNION ALL
          SELECT 'zorder' AS layout,
            cast(count(*) as bigint) AS n_files,
            cast(count(*) FILTER (WHERE lo_ux <= 23 AND hi_ux >= 8
              AND lo_my <= 47 AND hi_my >= 16) as bigint) AS files_hit,
            cast(coalesce(sum(n) FILTER (WHERE lo_ux <= 23
              AND hi_ux >= 8 AND lo_my <= 47 AND hi_my >= 16),
              0) as bigint) AS rows_scanned,
            cast(sum(n_match) as bigint) AS rows_matched
          FROM fz)
        SELECT layout, n_files, files_hit, rows_scanned, rows_matched
        FROM roll ORDER BY layout"""
      }),

    // ------------------------------------------------------------------
    // Materialized-view rewrite, end to end (plans/MvRewrite — the 5th
    // optimizer-extension rung): the daily-count rollup is REFRESHED
    // to parquet, registered (path + base marker + the day-bucket
    // expression's optimized SQL as the semantics guard), and then the
    // PLAIN aggregate a user writes over the base table is served from
    // the MV — full fact scan + shuffle replaced by a metadata-scale
    // read, answers unchanged (the oracle recomputes from the base
    // table, so the hash match IS the rewrite's correctness proof; at
    // 100 TB this is the difference between a dashboard query costing
    // a fact scan and costing an MV lookup). Plan-level evidence
    // (MV path in the scan, non-matching shapes untouched) is in
    // PlanGateSpec.
    // ------------------------------------------------------------------
    "e35_mv_rewrite" -> Q(
      (s, d) => {
        import graft.plans.{MvRewrite, SessionRules}
        val mvPath = indexPath(s, d, "mv-daily")
        def rollup = t(s, d, "events")
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n"))
        rollup.write.mode("overwrite").parquet(mvPath) // REFRESH
        val daySql = rollup.queryExecution.optimizedPlan.collectFirst {
          case p: org.apache.spark.sql.catalyst.plans.logical.Project =>
            p.projectList.collectFirst {
              case a: org.apache.spark.sql.catalyst.expressions.Alias
                  if a.child.dataType ==
                    org.apache.spark.sql.types.DateType => a.child.sql
            }
        }.flatten.getOrElse(throw new IllegalStateException(
          "e35: no day-bucket expression in the rollup's optimized plan"))
        // the PLAIN query — optimization happens at EXECUTION, so
        // materialize while the rule is installed (q84's pattern)
        SessionRules.withRule(s,
            MvRewrite(mvPath, "events.parquet", daySql)) {
          mat(t(s, d, "events")
            .groupBy(col("event_type"), to_date(col("ts")).as("day"))
            .agg(count(lit(1)).as("n")))
        }.orderBy(col("event_type"), col("day"))
      },
      Some("""SELECT event_type,
          cast(cast(ts as timestamp) as date) AS day,
          cast(count(*) as bigint) AS n
        FROM events GROUP BY 1, 2
        ORDER BY event_type, day""")),

    // ------------------------------------------------------------------
    // e36: MATCH_RECOGNIZE-lite — regex pattern matching over per-user
    // event-type sequences (the complex-event-processing operator in
    // batch form). Each user's history collapses to a string of
    // event-type initials ordered by (ts, event_id); a 4-row pattern
    // frame is broadcast-crossed on and NON-OVERLAPPING matches counted
    // per user (Java Matcher.find and DuckDB RE2 both scan leftmost,
    // resuming after each match — same count). Census per pattern.
    // Scale: the per-user string is bounded by that user's event count
    // (the sessionize/funnel class); corpus-scale work is ONE hash
    // aggregation — no global ordering, no all-pairs.
    // ------------------------------------------------------------------
    "e36_pattern_match" -> Q(
      (s, d) => {
        import s.implicits._
        val pats = Seq(
          ("browse_buy", "v[ce]*p"), // view, detours, purchase
          ("direct_buy", "vp"), // purchase right after a view
          ("error_burst", "ee+"), // >=2 consecutive errors
          ("signup_journey", "s[^p]*p") // signup to first purchase
        ).toDF("pattern_name", "pat")
        val seqs = t(s, d, "events")
          .select(col("user_id"), col("ts"), col("event_id"),
            substring(col("event_type"), 1, 1).as("ini"))
          .groupBy(col("user_id"))
          .agg(concat_ws("",
            transform(
              array_sort(collect_list(
                struct(col("ts"), col("event_id"), col("ini")))),
              x => x.getField("ini"))).as("seq"))
        seqs.join(broadcast(pats))
          .select(col("pattern_name"),
            regexp_count(col("seq"), col("pat")).cast("long").as("m"))
          .groupBy(col("pattern_name"))
          .agg(sum(col("m")).as("total_matches"),
            count(when(col("m") > 0, 1)).as("users_matched"),
            max(col("m")).as("max_user_matches"))
          .orderBy(col("pattern_name"))
      },
      Some("""WITH seqs AS (
          SELECT user_id,
            string_agg(substr(event_type, 1, 1), ''
              ORDER BY cast(ts as timestamp), event_id) AS seq
          FROM events GROUP BY user_id),
        pats AS (
          SELECT * FROM (VALUES
            ('browse_buy', 'v[ce]*p'), ('direct_buy', 'vp'),
            ('error_burst', 'ee+'), ('signup_journey', 's[^p]*p'))
            AS t(pattern_name, pat)),
        m AS (
          SELECT pattern_name,
            len(regexp_extract_all(seq, pat)) AS m
          FROM seqs, pats)
        SELECT pattern_name,
          cast(sum(m) as bigint) AS total_matches,
          cast(count(*) FILTER (WHERE m > 0) as bigint) AS users_matched,
          cast(max(m) as bigint) AS max_user_matches
        FROM m GROUP BY 1
        ORDER BY pattern_name"""))
  ) ++ Seq(

    // ------------------------------------------------------------------
    // e37: HILBERT-curve layout vs Z-order — the clustering comparison
    // behind "liquid"-style lakehouse layouts. Both map (user, minute)
    // to a 1-D index and bucket rows into 1024 would-be files; the
    // census sums each bucket's min/max ENVELOPE AREA per layout — the
    // exact quantity parquet footer pruning pays for (a predicate on
    // either dim scans files whose envelope intersects it, so smaller
    // total area = fewer false-positive file reads). Hilbert's
    // guarantee over Morton: consecutive index values are always
    // grid-adjacent (no quadrant jumps), so its envelopes are tighter.
    // The bucket width is deliberately NOT a power of 4 (96, not 64):
    // at quadrant-aligned widths BOTH curves fill perfect 8×8 tiles
    // and tie exactly (measured — identical censuses at width 64);
    // real writers chunk by row count, not by aligned index ranges,
    // so the unaligned width is the honest model (here: hilbert
    // 41 405 vs zorder 78 522 total area at sf0.01 — the ~1.9×
    // footer-pruning win Hilbert exists for).
    // Both indexes are pure row-local integer math (8-bit/dim): the
    // Hilbert transform is the classic per-level flip+swap fold — each
    // level materialized behind its OWN projection (multi-referenced
    // non-cheap exprs must not inline, the CLAUDE.md invariant; also
    // keeps the codegen tree linear in levels). Both curves ride ONE
    // scan and ONE (layout, bucket) shuffle via a 2-element explode;
    // the oracle re-derives both curves bit-for-bit in SQL via the
    // same generated level chain.
    // ------------------------------------------------------------------
    "e37_hilbert_layout" -> Q(
      (s, d) => {
        val bits = 8
        // ONE pass, no fact-scale checkpoint (a checkpointed
        // one-row-per-event frame OOMs downstream hash aggs at sf10
        // under QProf's small JVM — the d28 lesson): the Hilbert fold
        // threads (ux, my) through its level projections, the Morton
        // index is added in the same final projection, and a 2-element
        // explode routes every row into both layouts for a single
        // (layout, bucket) aggregation.
        val ev = t(s, d, "events")
          .select(pmod(col("user_id"), lit(256L)).as("ux"),
            pmod(expr("unix_seconds(ts) div 60"), lit(256L)).as("my"))
        // Hilbert: top-down flip+swap fold (s = 128, 64, ..., 1);
        // rx/ry from the CURRENT level's coords, d += s²·((3rx)⊻ry),
        // then rotate the frame for the next level
        var h = ev.select(col("ux"), col("my"),
          col("ux").as("hx"), col("my").as("hy"), lit(0L).as("hd"))
        for (i <- (bits - 1) to 0 by -1) {
          val sv = 1L << i
          h = h
            .withColumn("rx",
              when(col("hx").bitwiseAND(lit(sv)) > 0, 1L).otherwise(0L))
            .withColumn("ry",
              when(col("hy").bitwiseAND(lit(sv)) > 0, 1L).otherwise(0L))
            .withColumn("hd", col("hd") + lit(sv * sv) *
              (lit(3L) * col("rx")).bitwiseXOR(col("ry")))
            .withColumn("nx", when(col("ry") === 0,
              when(col("rx") === 1, lit(sv - 1) - col("hy"))
                .otherwise(col("hy"))).otherwise(col("hx")))
            .withColumn("ny", when(col("ry") === 0,
              when(col("rx") === 1, lit(sv - 1) - col("hx"))
                .otherwise(col("hx"))).otherwise(col("hy")))
            .select(col("ux"), col("my"), col("nx").as("hx"),
              col("ny").as("hy"), col("hd"))
        }
        // both indexes in one projection (hd is a cheap column ref by
        // now; the interleave is row-local bit math), then a 2-element
        // explode over the once-aliased input — both layouts flow
        // through ONE (layout, bucket) aggregation
        val both = h.select(col("ux"), col("my"), col("hd").as("hidx"),
          interleave(col("ux"), col("my"), bits).as("zidx"))
        both
          .select(col("ux"), col("my"), explode(array(
            struct(lit("hilbert").as("layout"), col("hidx").as("idx")),
            struct(lit("zorder").as("layout"), col("zidx").as("idx"))))
            .as("li"))
          .select(col("ux"), col("my"),
            col("li.layout").as("layout"), col("li.idx").as("idx"))
          .groupBy(col("layout"), expr("idx div 96").as("bucket"))
          .agg(count(lit(1)).as("n"),
            min(col("ux")).as("minx"), max(col("ux")).as("maxx"),
            min(col("my")).as("miny"), max(col("my")).as("maxy"))
          .groupBy(col("layout"))
          .agg(count(lit(1)).as("n_buckets"),
            sum(col("n")).as("n_events"),
            sum((col("maxx") - col("minx") + 1) *
              (col("maxy") - col("miny") + 1)).as("envelope_area"),
            sum(col("maxx") - col("minx") + 1).as("user_span"),
            sum(col("maxy") - col("miny") + 1).as("minute_span"))
          .orderBy(col("layout"))
      },
      Some {
        val bits = 8
        val xB = (0 until bits)
          .map(i => s"(((ux >> $i) & 1) << ${2 * i})").mkString(" | ")
        val yB = (0 until bits)
          .map(i => s"(((my >> $i) & 1) << ${2 * i + 1})").mkString(" | ")
        val levels = ((bits - 1) to 0 by -1).map { i =>
          val sv = 1L << i
          val prev = if (i == bits - 1) "h0" else s"h${bits - 1 - i}"
          s"""h${bits - i} AS (
            SELECT ux, my,
              CASE WHEN (hy & $sv) = 0 THEN (CASE WHEN (hx & $sv) > 0
                THEN ${sv - 1} - hy ELSE hy END) ELSE hx END AS hx,
              CASE WHEN (hy & $sv) = 0 THEN (CASE WHEN (hx & $sv) > 0
                THEN ${sv - 1} - hx ELSE hx END) ELSE hy END AS hy,
              hd + ${sv * sv} * xor(
                3 * (CASE WHEN (hx & $sv) > 0 THEN 1 ELSE 0 END),
                (CASE WHEN (hy & $sv) > 0 THEN 1 ELSE 0 END)) AS hd
            FROM $prev)"""
        }.mkString(",\n")
        s"""WITH ev AS (
          SELECT user_id % 256 AS ux,
            (cast(floor(epoch(cast(ts as timestamp))) as bigint) // 60)
              % 256 AS my
          FROM events),
        h0 AS (SELECT ux, my, ux AS hx, my AS hy, 0 AS hd FROM ev),
        $levels,
        idxs AS (
          SELECT 'hilbert' AS layout, ux, my, hd AS idx FROM h$bits
          UNION ALL
          SELECT 'zorder', ux, my, ($xB) | ($yB) FROM ev),
        buckets AS (
          SELECT layout, idx // 96 AS bucket,
            cast(count(*) as bigint) AS n,
            min(ux) AS minx, max(ux) AS maxx,
            min(my) AS miny, max(my) AS maxy
          FROM idxs GROUP BY 1, 2)
        SELECT layout, cast(count(*) as bigint) AS n_buckets,
          cast(sum(n) as bigint) AS n_events,
          cast(sum((maxx - minx + 1) * (maxy - miny + 1)) as bigint)
            AS envelope_area,
          cast(sum(maxx - minx + 1) as bigint) AS user_span,
          cast(sum(maxy - miny + 1) as bigint) AS minute_span
        FROM buckets GROUP BY 1
        ORDER BY layout"""
      }),

    // ------------------------------------------------------------------
    // e38: CONVERSATION ASSEMBLY — the SFT-data step that turns raw
    // interaction logs into chat-format training examples: sessionize
    // (the shared 30-min-gap definition), order turns by (ts,
    // event_id), render each through a chat template, and budget
    // tokens per conversation BEFORE packing (p06's input shape).
    // Turn content is the integer event_id — deterministic template
    // rendering in both engines (a double field would not round-trip
    // string formatting identically). Census: conversations, chars,
    // and chars/4 token estimates per turn-count. Scale: one window
    // pass for sessionization (key-partitioned by user), one hash agg
    // per conversation, one per turn-count bucket — no global order.
    // ------------------------------------------------------------------
    "e38_conversation_assembly" -> Q(
      (s, d) => {
        val n = sessionized(t(s, d, "events")
          .select(col("user_id"), col("event_id"), col("event_type"),
            col("ts")))
        val conv = n
          .select(col("user_id"), col("sid"), col("ts"), col("event_id"),
            concat(lit("<|"), col("event_type"), lit("|>e"),
              col("event_id").cast("string")).as("turn"))
          .groupBy(col("user_id"), col("sid"))
          .agg(count(lit(1)).as("n_turns"),
            length(concat_ws("", transform(array_sort(collect_list(
              struct(col("ts"), col("event_id"), col("turn")))),
              x => x.getField("turn")))).cast("long").as("n_chars"))
        conv.groupBy(col("n_turns"))
          .agg(count(lit(1)).as("n_convs"),
            sum(col("n_chars")).as("total_chars"),
            sum(expr("n_chars div 4")).as("tokens_est"))
          .orderBy(col("n_turns"))
      },
      Some("""WITH """ + sqlSessionized() + """,
        conv AS (
          SELECT user_id, sid,
            cast(count(*) as bigint) AS n_turns,
            cast(length(string_agg(
              concat('<|', event_type, '|>e', event_id), ''
              ORDER BY tts, event_id)) as bigint)
              AS n_chars
          FROM n GROUP BY 1, 2)
        SELECT n_turns,
          cast(count(*) as bigint) AS n_convs,
          cast(sum(n_chars) as bigint) AS total_chars,
          cast(sum(n_chars // 4) as bigint) AS tokens_est
        FROM conv GROUP BY 1
        ORDER BY n_turns""")),

    // ------------------------------------------------------------------
    // e39: PREFERENCE-PAIR assembly (DPO/RLHF data prep) — the step
    // after e38's SFT rendering: turn interaction logs into (chosen,
    // rejected) trajectory pairs. Consecutive sessions of one user are
    // alternative trajectories from comparable context; the one with
    // the higher reward is chosen (tie → the EARLIER session, a full
    // tiebreak). Reward is bit-portable integer: per-event
    // floor(value·64) (·2^6 exact, floor exact) summed per session —
    // a double sum would drift per partitioning; this is the
    // CLAUDE.md decimal/integer-aggregate rule applied to reward
    // shaping. Census per reward-gap bucket: pairs, how often the
    // LATER session won (the drift a reward-model trainer watches —
    // preferring recency means the pairs teach staleness), and
    // chosen/rejected char masses (budgeting, e38's role). Scale: one
    // user-keyed sessionize window, one hash agg per session, one
    // user-keyed self-join on adjacent sids — no global order.
    // ------------------------------------------------------------------
    "e39_preference_pairs" -> Q(
      (s, d) => {
        preferencePairs(s, d)
          .groupBy(expr("gap div 4096").as("gap_bucket"))
          .agg(count(lit(1)).as("n_pairs"),
            count(when(col("later_won"), 1)).as("n_later_chosen"),
            sum(col("chosen_chars")).as("chosen_chars"),
            sum(col("rejected_chars")).as("rejected_chars"))
          .orderBy(col("gap_bucket"))
      },
      Some("""WITH """ + sqlPreferencePairs + """
        SELECT cast(gap // 4096 as bigint) AS gap_bucket,
          cast(count(*) as bigint) AS n_pairs,
          cast(count(*) FILTER (WHERE later_won) as bigint)
            AS n_later_chosen,
          cast(sum(chosen_chars) as bigint) AS chosen_chars,
          cast(sum(rejected_chars) as bigint) AS rejected_chars
        FROM pairs GROUP BY 1
        ORDER BY gap_bucket""")),

    // ------------------------------------------------------------------
    // p07: PREFERENCE-DATA PIPELINE — e39's pairs driven through the
    // gates a DPO training run applies before the loader sees them,
    // each stage a row in the audit census: (a) all assembled pairs
    // with their token mass (chars div 4, e38's estimate); (b) the
    // EVAL-HOLDOUT gate — pairs from held-out users (h60 mod 100 ≥ 90,
    // x17's split convention) are dropped so the eval population never
    // leaks into training (x56's leakage discipline applied to
    // preference data); (c) the length budget — pairs over 10 tokens
    // dropped (the truncation-vs-drop decision priced before
    // training); (d) the surviving pairs packed into 64-token windows
    // via the two-level block prefix sum (p06's billing machinery;
    // items_spanning = pairs crossing a window boundary, the
    // attention-bleed statistic). Every stage reduces its input; the
    // offsets pass is streamOffsets' one-row-per-block shape — no
    // corpus-wide window.
    // ------------------------------------------------------------------
    "p07_preference_pipeline" -> Q(
      (s, d) => {
        val L = 64L
        val maxToks = 10L
        val pairs = preferencePairs(s, d)
          .select(
            (col("user_id") * 100000 + col("pair_sid")).as("doc_id"),
            col("user_id"),
            expr("(chosen_chars + rejected_chars) div 4").as("n"))
          .localCheckpoint() // three stage consumers + offsets
        val train = pairs.filter(
          pmod(graft.functions.PortableHash.h60col(
            concat(lit("p07_"), col("user_id"))), lit(100L)) < 90)
        val sized = train.filter(col("n") <= maxToks && col("n") > 0)
        def stageRow(df: org.apache.spark.sql.DataFrame, name: String) =
          df.agg(count(lit(1)).as("n_items"), sum(col("n")).as("mass"))
            .select(lit(name).as("stage"), col("n_items"),
              coalesce(col("mass"), lit(0L)).as("token_mass"),
              lit(0L).as("n_windows"), lit(0L).as("items_spanning"))
        val packed = sized
          .join(graft.queries.TextOps.streamOffsets(
            sized.select(col("doc_id"), col("n")).localCheckpoint()),
            Seq("doc_id"))
          .select(col("n"), col("off"),
            expr(s"off div $L").as("sf"),
            expr(s"(off + n - 1) div $L").as("sl"))
          .agg(count(lit(1)).as("n_items"),
            sum(col("n")).as("token_mass"),
            (max(col("sl")) + 1).as("n_windows"),
            count(when(col("sf") =!= col("sl"), 1))
              .as("items_spanning"))
          .select(lit("d_packed").as("stage"), col("n_items"),
            col("token_mass"), col("n_windows"), col("items_spanning"))
        stageRow(pairs, "a_pairs")
          .unionByName(stageRow(train, "b_train"))
          .unionByName(stageRow(sized, "c_sized"))
          .unionByName(packed)
          .orderBy(col("stage"))
      },
      Some(s"""WITH ${sqlPreferencePairs},
        pp AS (
          SELECT user_id * 100000 + pair_sid AS doc_id, user_id,
            (chosen_chars + rejected_chars) // 4 AS tk
          FROM pairs),
        train AS (
          SELECT * FROM pp
          WHERE ${graft.functions.PortableHash.h60Sql("'p07_' || user_id")}
            % 100 < 90),
        sized AS (SELECT * FROM train WHERE tk <= 10 AND tk > 0),
        offs AS (
          SELECT doc_id, tk,
            coalesce(sum(tk) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS off
          FROM sized),
        packed AS (
          SELECT cast(count(*) as bigint) AS n_items,
            cast(sum(tk) as bigint) AS token_mass,
            cast(max((off + tk - 1) // 64) + 1 as bigint) AS n_windows,
            cast(count(*) FILTER (
              WHERE off // 64 <> (off + tk - 1) // 64) as bigint)
              AS items_spanning
          FROM offs)
        SELECT * FROM (
          SELECT 'a_pairs' AS stage,
            cast(count(*) as bigint) AS n_items,
            cast(coalesce(sum(tk), 0) as bigint) AS token_mass,
            cast(0 as bigint) AS n_windows,
            cast(0 as bigint) AS items_spanning
          FROM pp
          UNION ALL
          SELECT 'b_train', cast(count(*) as bigint),
            cast(coalesce(sum(tk), 0) as bigint),
            cast(0 as bigint), cast(0 as bigint)
          FROM train
          UNION ALL
          SELECT 'c_sized', cast(count(*) as bigint),
            cast(coalesce(sum(tk), 0) as bigint),
            cast(0 as bigint), cast(0 as bigint)
          FROM sized
          UNION ALL
          SELECT 'd_packed', n_items, token_mass, n_windows,
            items_spanning
          FROM packed)
        ORDER BY stage"""))
  )
}
