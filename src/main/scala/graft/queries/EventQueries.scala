package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import Q.{dec, asDouble}

/** Event-stream analytics over the `events` table — the batch renditions
  * of the streaming semantics SURVEY §2.10 calls for (tumbling windows,
  * sessionization, running state). The same transforms run unchanged
  * under Structured Streaming (graft.streaming) since they only use
  * event-time columns and keyed windows.
  *
  * Timestamps surface as epoch microseconds (unix_micros/epoch_us) where
  * sub-second values matter, so ns-vs-µs physical types can't skew the
  * cross-engine compare.
  */
object EventQueries {

  /** Tumbling 1-hour event-time window per event_type. */
  val qEventsTumbling = Q(
    "q_events_tumbling",
    (s, d) => Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        asDouble(sum(dec(col("value")))).as("total_value"))
      .select(
        col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))
      .orderBy(col("window_start"), col("event_type")),
    Some("""
      SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
             event_type, count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
      FROM events
      GROUP BY 1, 2 ORDER BY window_start, event_type"""),
    headline = true)

  /** Gap-based sessionization (30-min inactivity): lag → new-session flag
    * → running sum = session seq → per-session aggregates. All state is
    * keyed by user_id — no global window, scales with users.
    */
  val qEventsSessionize = Q(
    "q_events_sessionize",
    (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .withColumn("prev_s", lag(col("ts").cast(LongType), 1).over(w))
        .withColumn("new_sess",
          when(col("prev_s").isNull || col("ts").cast(LongType) - col("prev_s") > 1800, 1)
            .otherwise(0))
        .withColumn("session_seq",
          sum(col("new_sess")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast(IntegerType))
        .groupBy(col("user_id"), col("session_seq"))
        .agg(
          count(lit(1)).as("n_events"),
          unix_micros(min(col("ts"))).as("start_us"),
          unix_micros(max(col("ts"))).as("end_us"))
        .orderBy(col("user_id"), col("session_seq"))
    },
    Some("""
      WITH flagged AS (
        SELECT user_id, event_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR date_diff('second', lag(ts) OVER w, ts) > 1800
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ), sessions AS (
        SELECT user_id, event_id, ts,
               CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INTEGER) AS session_seq
        FROM flagged
      )
      SELECT user_id, session_seq, count(*) AS n_events,
             epoch_us(CAST(min(ts) AS TIMESTAMP)) AS start_us,
             epoch_us(CAST(max(ts) AS TIMESTAMP)) AS end_us
      FROM sessions
      GROUP BY user_id, session_seq
      ORDER BY user_id, session_seq"""),
    headline = true)

  /** SLIDING event-time window (1 h duration, 15 min slide): each event
    * lands in duration/slide = 4 overlapping windows — the smoothing
    * rendition of q_events_tumbling. Spark's window() generator emits
    * the 4 bucket rows map-side; one keyed aggregation after, state
    * per (window, type) bounded by the hour's traffic. The oracle
    * reproduces the epoch-aligned bucket set with integer micros
    * arithmetic (trunc-to-slide minus j·slide, j < 4), and windows
    * compare as unix-micro starts so timestamp rendering can't skew
    * the hash.
    */
  val qSlidingWindow = Q(
    "q_sliding_window",
    (s, d) => Tables.events(s, d)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        asDouble(sum(dec(col("value")))).as("total_value"))
      .select(
        unix_micros(col("window.start")).as("ws_us"), col("event_type"),
        col("n"), col("total_value"))
      .orderBy(col("ws_us"), col("event_type")),
    Some("""
      WITH e AS (
        SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type, value
        FROM events),
      w AS (
        SELECT (us // 900000000) * 900000000 - j * 900000000 AS ws_us,
               event_type, value
        FROM e, unnest(range(0, 4)) AS t(j))
      SELECT ws_us, event_type, count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
      FROM w GROUP BY 1, 2 ORDER BY ws_us, event_type"""))

  /** Moving aggregate over the last 10 events per user (frame window). */
  val qEventsRunning = Q(
    "q_events_running",
    (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(-9, Window.currentRow)
      // evaluate the decimal frame sum ONCE; mov_avg derives from the
      // projected column instead of a second window aggregate
      Tables.events(s, d).select(
        col("event_id"), col("user_id"),
        asDouble(sum(dec(col("value"))).over(w)).as("mov_sum"),
        count(lit(1)).over(w).as("__n"))
        .withColumn("mov_avg", col("mov_sum") / col("__n"))
        .drop("__n")
        .orderBy(col("event_id"))
    },
    Some("""
      SELECT event_id, user_id,
             CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS mov_sum,
             CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE)
               / count(*) OVER w AS mov_avg
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
      ORDER BY event_id"""))

  /** Trailing-hour rolling aggregate as a time-RANGE frame (not a row
    * frame): per event, how many events of its type landed in the
    * preceding hour and their value total. The frame is defined on the
    * event-time VALUE (epoch micros), so irregular event spacing is
    * handled exactly — a row frame of fixed width would not be. Ties on
    * the ordering key are frame peers in both engines (RANGE includes
    * all peers), so no tie-break column is needed for determinism.
    * Partitioned by event_type — state per window partition is bounded
    * by that type's events inside one hour, not the corpus.
    */
  val qRollingHour = Q(
    "q_rolling_hour",
    (s, d) => {
      val w = Window.partitionBy(col("event_type")).orderBy(col("ts_us"))
        .rangeBetween(-3600000000L, 0L)
      Tables.events(s, d)
        .withColumn("ts_us", unix_micros(col("ts")))
        .select(
          col("event_id"), col("event_type"),
          count(lit(1)).over(w).as("n_last_hour"),
          asDouble(sum(dec(col("value"))).over(w)).as("sum_last_hour"))
        .orderBy(col("event_id"))
    },
    Some("""
      SELECT event_id, event_type,
             count(*) OVER w AS n_last_hour,
             CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS sum_last_hour
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
                   RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
      ORDER BY event_id"""))

  /** Semi-structured extraction: JSON props → typed column → aggregate.
    * get_json_object stays inside codegen (no UDF).
    */
  val qEventsJson = Q(
    "q_events_json",
    (s, d) => Tables.events(s, d)
      .withColumn("k", get_json_object(col("props"), "$.k").cast(IntegerType))
      .groupBy(col("event_type"))
      .agg(
        sum(col("k")).as("k_sum"),
        count(when(col("k") > 50, 1)).as("n_high"))
      .orderBy(col("event_type")),
    Some("""
      SELECT event_type,
             CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS k_sum,
             count(*) FILTER (WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) > 50) AS n_high
      FROM events
      GROUP BY event_type ORDER BY event_type"""))

  /** Latest-event-per-key (dedup-by-recency — the streaming upsert
    * compaction pattern).
    */
  val qEventsLatest = Q(
    "q_events_latest",
    (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      Tables.events(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id").as("last_event_id"),
          unix_micros(col("ts")).as("last_ts_us"))
        .orderBy(col("user_id"))
    },
    Some("""
      SELECT user_id, last_event_id, last_ts_us FROM (
        SELECT user_id, event_id AS last_event_id,
               epoch_us(CAST(ts AS TIMESTAMP)) AS last_ts_us,
               row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events)
      WHERE rn = 1 ORDER BY user_id"""))

  /** Typed JSON struct round-trip: from_json into a schema'd struct,
    * back out with to_json (field order preserved both ways), plus
    * nullif/ifnull handling.
    */
  val qEventsJsonStruct = Q(
    "q_events_json_struct",
    (s, d) => Tables.events(s, d)
      .withColumn("parsed", from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT")))
      .select(
        col("event_id"),
        col("parsed.k").as("k"),
        to_json(struct(col("event_type").as("t"), col("parsed.k").as("k"))).as("j"),
        nullif(col("parsed.k"), lit(0)).as("k_nz"),
        coalesce(nullif(col("parsed.k"), lit(0)), lit(-1)).as("k_or_neg1"))
      .orderBy(col("event_id")),
    Some("""
      SELECT event_id,
             CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
             to_json(struct_pack(t := event_type,
                                 k := CAST(json_extract_string(props, '$.k') AS INTEGER))) AS j,
             nullif(CAST(json_extract_string(props, '$.k') AS INTEGER), 0) AS k_nz,
             coalesce(nullif(CAST(json_extract_string(props, '$.k') AS INTEGER), 0), -1) AS k_or_neg1
      FROM events ORDER BY event_id"""))

  /** As-of join (graft.ops.TemporalOps): each purchase picks the most
    * recent view (per user, ts >= view ts). Right side pre-deduplicated
    * per (user, ts) with max_by/arg_max so the match is unique. Oracle
    * is DuckDB's NATIVE ASOF LEFT JOIN — the union+carry-forward plan
    * must reproduce it row-for-row.
    */
  val qAsofJoin = Q(
    "q_asof_join",
    (s, d) => {
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts"))
        .agg(max_by(col("value"), col("event_id")).as("view_value"))
      graft.ops.TemporalOps
        .asofJoin(purchases, views, Seq("user_id"), "ts", "ts", Seq("view_value"))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          unix_micros(col("asof_ts")).as("view_ts_us"),
          col("asof_view_value").as("view_value"))
        .orderBy(col("event_id"))
    },
    Some("""
      WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
      r AS (SELECT user_id, ts, arg_max(value, event_id) AS view_value
            FROM events WHERE event_type = 'view' GROUP BY user_id, ts)
      SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us,
             epoch_us(r.ts) AS view_ts_us, r.view_value
      FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
      ORDER BY event_id"""),
    headline = true)

  /** The SAME as-of join through the NATIVE physical operator
    * (graft.plans.AsOfJoinExec via the injected AsOfJoinStrategy —
    * the whole-operator tier of the extension ladder): identical
    * contract and identical DuckDB ASOF oracle as q_asof_join, so the
    * custom SparkPlan's merge sits under the same exactness gate as
    * the declarative union+carry-forward spelling it replaces at
    * scale (each side shuffles once on its own key; the match is a
    * per-partition two-pointer walk — no merged relation, no window).
    */
  val qAsofNative = Q(
    "q_asof_native",
    (s, d) => {
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts"))
        .agg(max_by(col("value"), col("event_id")).as("view_value"))
      graft.ops.TemporalOps
        .asofJoinNative(purchases, views, Seq("user_id"), "ts", "ts",
          Seq("view_value"))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          unix_micros(col("asof_ts")).as("view_ts_us"),
          col("asof_view_value").as("view_value"))
        .orderBy(col("event_id"))
    },
    Some("""
      WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
      r AS (SELECT user_id, ts, arg_max(value, event_id) AS view_value
            FROM events WHERE event_type = 'view' GROUP BY user_id, ts)
      SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us,
             epoch_us(r.ts) AS view_ts_us, r.view_value
      FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
      ORDER BY event_id"""),
    headline = true)

  /** The BROADCAST rendition of the native as-of join
    * (graft.plans.AsOfBroadcastJoinExec): when the right side is
    * dimension-sized, the fact side is probed IN PLACE — zero
    * exchanges, zero sorts on fact (plan-pinned in AsOfNativeSpec);
    * each task binary-searches a broadcast per-key timeline. Same
    * DuckDB ASOF oracle as q_asof_join, so all three renditions
    * (declarative window, shuffle merge, broadcast probe) sit under
    * one exactness gate.
    */
  val qAsofBroadcast = Q(
    "q_asof_broadcast",
    (s, d) => {
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts"))
        .agg(max_by(col("value"), col("event_id")).as("view_value"))
      graft.ops.TemporalOps
        .asofJoinNative(purchases, views, Seq("user_id"), "ts", "ts",
          Seq("view_value"), broadcastRight = true)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          unix_micros(col("asof_ts")).as("view_ts_us"),
          col("asof_view_value").as("view_value"))
        .orderBy(col("event_id"))
    },
    Some("""
      WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
      r AS (SELECT user_id, ts, arg_max(value, event_id) AS view_value
            FROM events WHERE event_type = 'view' GROUP BY user_id, ts)
      SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us,
             epoch_us(r.ts) AS view_ts_us, r.view_value
      FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
      ORDER BY event_id"""),
    headline = true)

  /** Forward as-of join (graft.ops.TemporalOps.asofJoinForward): each
    * view event finds the user's NEXT purchase at or after it — the
    * "time to conversion" lookup. Oracle: DuckDB's native ASOF with the
    * inequality flipped (l.ts <= r.ts picks the minimum matching ts).
    */
  val qAsofForward = Q(
    "q_asof_forward",
    (s, d) => {
      val ev = Tables.events(s, d)
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max_by(col("value"), col("event_id")).as("purchase_value"))
      graft.ops.TemporalOps
        .asofJoinForward(views, purchases, Seq("user_id"), "ts", "ts",
          Seq("purchase_value"))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          unix_micros(col("asof_ts")).as("purchase_ts_us"),
          col("asof_purchase_value").as("purchase_value"))
        .orderBy(col("event_id"))
    },
    Some("""
      WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'),
      r AS (SELECT user_id, ts, arg_max(value, event_id) AS purchase_value
            FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
      SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us,
             epoch_us(r.ts) AS purchase_ts_us, r.purchase_value
      FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts <= r.ts
      ORDER BY event_id"""))

  /** Tolerance-bounded as-of (pandas `merge_asof(tolerance=...)`):
    * each purchase picks the most recent view only if it is AT MOST 30
    * minutes stale — a staler match nulls out exactly as if no view
    * existed. The freshness contract every feature-store read wants
    * ("use the last price, but never one from yesterday"). Oracle:
    * DuckDB's native ASOF with the staleness CASE applied on top.
    */
  val qAsofTolerance = Q(
    "q_asof_tolerance",
    (s, d) => {
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts"))
        .agg(max_by(col("value"), col("event_id")).as("view_value"))
      graft.ops.TemporalOps
        .asofJoin(purchases, views, Seq("user_id"), "ts", "ts",
          Seq("view_value"), toleranceMicros = Some(1800L * 1000000))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          unix_micros(col("asof_ts")).as("view_ts_us"),
          col("asof_view_value").as("view_value"))
        .orderBy(col("event_id"))
    },
    Some("""
      WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
      r AS (SELECT user_id, ts, arg_max(value, event_id) AS view_value
            FROM events WHERE event_type = 'view' GROUP BY user_id, ts)
      SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us,
             CASE WHEN epoch_us(l.ts) - epoch_us(r.ts) <= 1800000000
                  THEN epoch_us(r.ts) END AS view_ts_us,
             CASE WHEN epoch_us(l.ts) - epoch_us(r.ts) <= 1800000000
                  THEN r.view_value END AS view_value
      FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
      ORDER BY event_id"""))

  /** GROUPED as-of at feature-store shape
    * (graft.ops.TemporalOps.asofJoinFeatures): every purchase reads the
    * user's latest view, click AND signup state as of the purchase
    * instant — THREE feature tables joined point-in-time in ONE pass
    * (one exchange + one sort total, not one per feature table;
    * plan-pinned in AsOfNativeSpec). Oracle: DuckDB's native ASOF LEFT
    * JOIN chained three times — the single-window carry must reproduce
    * the 3-way chain row-for-row.
    */
  val qPitFeatures = Q(
    "q_pit_features",
    (s, d) => {
      val ev = Tables.events(s, d)
      val spine = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      def feat(t: String) = ev.filter(col("event_type") === t)
        .groupBy(col("user_id"), col("ts"))
        .agg(max_by(col("value"), col("event_id")).as(s"${t}_value"))
      graft.ops.TemporalOps.asofJoinFeatures(spine,
          Seq(("view", feat("view"), Seq("view_value")),
            ("click", feat("click"), Seq("click_value")),
            ("signup", feat("signup"), Seq("signup_value"))),
          Seq("user_id"), "ts", "ts")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"),
          unix_micros(col("view_ts")).as("view_ts_us"),
          col("view_view_value").as("view_value"),
          unix_micros(col("click_ts")).as("click_ts_us"),
          col("click_click_value").as("click_value"),
          unix_micros(col("signup_ts")).as("signup_ts_us"),
          col("signup_signup_value").as("signup_value"))
        .orderBy(col("event_id"))
    },
    Some("""
      WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
      v AS (SELECT user_id, ts, arg_max(value, event_id) AS view_value
            FROM events WHERE event_type = 'view' GROUP BY user_id, ts),
      c AS (SELECT user_id, ts, arg_max(value, event_id) AS click_value
            FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
      g AS (SELECT user_id, ts, arg_max(value, event_id) AS signup_value
            FROM events WHERE event_type = 'signup' GROUP BY user_id, ts)
      SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us,
             epoch_us(v.ts) AS view_ts_us, v.view_value,
             epoch_us(c.ts) AS click_ts_us, c.click_value,
             epoch_us(g.ts) AS signup_ts_us, g.signup_value
      FROM l
      ASOF LEFT JOIN v ON l.user_id = v.user_id AND l.ts >= v.ts
      ASOF LEFT JOIN c ON l.user_id = c.user_id AND l.ts >= c.ts
      ASOF LEFT JOIN g ON l.user_id = g.user_id AND l.ts >= g.ts
      ORDER BY event_id"""),
    headline = true)

  /** Time-series gap fill + resample: the per-type hourly count series
    * over the corpus's full time range INCLUDING empty hours (n = 0),
    * plus the last non-empty hour's value total carried forward — the
    * regularized grid downstream forecasting/alerting consumes (a
    * groupBy alone silently skips empty buckets; thresholds and
    * windowed models need them present).
    *
    * The hour grid is generated per type from the GLOBAL min/max hour
    * (a 2-value broadcast aggregate crossed with the tiny type dim —
    * types × hours rows, independent of event count); observed hours
    * left-join onto it, and the carry is a keyed window. No generator
    * touches the event relation itself.
    */
  val qGapFill = Q(
    "q_gap_fill",
    (s, d) => {
      val ev = Tables.events(s, d)
      val hourly = ev
        .groupBy(col("event_type"),
          date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("n"),
          asDouble(sum(dec(col("value")))).as("total_value"))
      val bounds = ev.agg(
        date_trunc("hour", min(col("ts"))).as("lo"),
        date_trunc("hour", max(col("ts"))).as("hi"))
      val grid = ev.select(col("event_type")).distinct()
        .crossJoin(broadcast(bounds))
        .select(col("event_type"),
          explode(sequence(col("lo"), col("hi"),
            expr("interval 1 hour"))).as("hour"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("hour"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(hourly, Seq("event_type", "hour"), "left")
        .select(col("event_type"), unix_micros(col("hour")).as("hour_us"),
          coalesce(col("n"), lit(0L)).as("n"),
          last(col("total_value"), ignoreNulls = true).over(w).as("carried_value"))
        .orderBy(col("event_type"), col("hour_us"))
    },
    Some("""
      WITH hourly AS (
        SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour,
               count(*) AS n,
               CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        FROM events GROUP BY 1, 2),
      bounds AS (
        SELECT date_trunc('hour', min(CAST(ts AS TIMESTAMP))) AS lo,
               date_trunc('hour', max(CAST(ts AS TIMESTAMP))) AS hi
        FROM events),
      grid AS (
        SELECT t.event_type, g.hour
        FROM (SELECT DISTINCT event_type FROM events) t,
             (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
              FROM bounds) g)
      SELECT grid.event_type, epoch_us(grid.hour) AS hour_us,
             coalesce(hourly.n, 0) AS n,
             last_value(hourly.total_value IGNORE NULLS) OVER (
               PARTITION BY grid.event_type ORDER BY grid.hour
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS carried_value
      FROM grid LEFT JOIN hourly
        ON grid.event_type = hourly.event_type AND grid.hour = hourly.hour
      ORDER BY grid.event_type, hour_us"""))

  /** Range join (graft.ops.TemporalOps.rangeJoin): purchases landing
    * within two hours after a signup, per user — bucketized equi-join
    * (1-hour buckets) against a DuckDB inequality-join oracle.
    */
  val qRangeJoin = Q(
    "q_range_join",
    (s, d) => {
      val ev = Tables.events(s, d)
      val twoHoursUs = 2L * 3600 * 1000000
      val points = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("p_us"))
      val intervals = ev.filter(col("event_type") === "signup")
        .select(col("event_id").as("signup_id"), col("user_id"),
          unix_micros(col("ts")).as("s_us"),
          (unix_micros(col("ts")) + twoHoursUs).as("e_us"))
      graft.ops.TemporalOps
        .rangeJoin(points, intervals, Seq("user_id"),
          "p_us", "s_us", "e_us", bucketWidth = 3600L * 1000000)
        .select(col("event_id"), col("signup_id"), col("user_id"),
          col("p_us"), col("s_us"))
        .orderBy(col("event_id"), col("signup_id"))
    },
    Some("""
      WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS p_us
                 FROM events WHERE event_type = 'purchase'),
      i AS (SELECT event_id AS signup_id, user_id, epoch_us(ts) AS s_us,
                   epoch_us(ts) + 7200000000 AS e_us
            FROM events WHERE event_type = 'signup')
      SELECT p.event_id, i.signup_id, p.user_id, p.p_us, i.s_us
      FROM p JOIN i ON p.user_id = i.user_id
                   AND p.p_us BETWEEN i.s_us AND i.e_us
      ORDER BY event_id, signup_id"""),
    headline = true)

  /** Ordered three-step funnel (view → click → purchase), each step
    * within one hour of the previous, reported as users-surviving per
    * step. Scale shape: NO self-join of the raw stream — each step is
    * one keyed aggregation over events joined to the (tiny, one row
    * per surviving user) previous-step relation, so the event table is
    * scanned once per step and everything shuffles on user_id. Time
    * arithmetic in epoch micros (pure integers): no interval literals,
    * no timestamp-precision skew.
    */
  val qFunnel = Q(
    "q_funnel",
    (s, d) => {
      val us = 3600L * 1000000L // 1-hour step window, micros
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      // each step relation is a user-level aggregate reused by BOTH the
      // next step's join and its own count; cached, so each event type
      // is read once through its pushdown-pruned scan instead of the
      // step lineage re-running per branch (6 events scans → 3,
      // r12 scan sweep)
      val s1 = graft.ops.Caching.cachedOnce(
        ev.filter(col("event_type") === "view")
          .groupBy(col("user_id")).agg(min(col("us")).as("t1")))
      val s2 = graft.ops.Caching.cachedOnce(
        ev.filter(col("event_type") === "click")
          .join(s1, "user_id")
          .filter(col("us") > col("t1") && col("us") <= col("t1") + us)
          .groupBy(col("user_id")).agg(min(col("us")).as("t2")))
      val s3 = ev.filter(col("event_type") === "purchase")
        .join(s2, "user_id")
        .filter(col("us") > col("t2") && col("us") <= col("t2") + us)
        .groupBy(col("user_id")).agg(min(col("us")).as("t3"))
      s1.agg(count(lit(1)).as("n_users")).select(lit("step1_view").as("step"), col("n_users"))
        .unionByName(s2.agg(count(lit(1)).as("n_users"))
          .select(lit("step2_click").as("step"), col("n_users")))
        .unionByName(s3.agg(count(lit(1)).as("n_users"))
          .select(lit("step3_purchase").as("step"), col("n_users")))
        .orderBy(col("step"))
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us
        FROM events),
      s1 AS (SELECT user_id, min(us) AS t1 FROM e
             WHERE event_type = 'view' GROUP BY user_id),
      s2 AS (SELECT e.user_id, min(us) AS t2 FROM e JOIN s1 USING (user_id)
             WHERE event_type = 'click' AND us > t1 AND us <= t1 + 3600000000
             GROUP BY e.user_id),
      s3 AS (SELECT e.user_id, min(us) AS t3 FROM e JOIN s2 USING (user_id)
             WHERE event_type = 'purchase' AND us > t2 AND us <= t2 + 3600000000
             GROUP BY e.user_id)
      SELECT 'step1_view' AS step, count(*) AS n_users FROM s1
      UNION ALL SELECT 'step2_click', count(*) FROM s2
      UNION ALL SELECT 'step3_purchase', count(*) FROM s3
      ORDER BY step"""),
    headline = true)

  /** Daily cohort retention matrix: users grouped by their first-seen
    * day; n_users = distinct users from that cohort active again at
    * each day offset. Two keyed aggregations and one join on user_id —
    * the (user, day) relation is deduplicated FIRST, so the count is a
    * plain count over distinct pairs, never a count-distinct Expand
    * over raw events. Day arithmetic is date-subtraction (integer
    * days): no interval literals, no timezone skew (session is UTC).
    */
  val qRetention = Q(
    "q_retention",
    (s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val cohorts = ev.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
      ev.join(cohorts, "user_id")
        .select(col("cohort_day"),
          datediff(col("day"), col("cohort_day")).as("day_offset"))
        .groupBy(col("cohort_day"), col("day_offset"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("cohort_day"), col("day_offset"))
    },
    Some("""
      WITH e AS (
        SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
        FROM events),
      c AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY user_id)
      SELECT cohort_day, CAST(e.day - cohort_day AS INTEGER) AS day_offset,
             count(*) AS n_users
      FROM e JOIN c USING (user_id)
      GROUP BY cohort_day, day_offset
      ORDER BY cohort_day, day_offset"""),
    headline = true)

  /** Volume anomaly detection: hourly event counts per type, z-scored
    * against that type's own distribution; |z| > 2 flags the hour.
    * Mean and variance derive from exact integer sums (Σn, Σn²) — the
    * double arithmetic on top is identical expression-for-expression
    * on both engines (sqrt is correctly rounded everywhere), so the
    * flag can never straddle an engine's last bit. Shape: one windowed
    * count, one tiny per-type stats row broadcast back — the per-type
    * stats never see raw events.
    */
  val qAnomalyHours = Q(
    "q_anomaly_hours",
    (s, d) => {
      val hourly = Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("window_start"), col("event_type"), col("n"))
      val stats = hourly.groupBy(col("event_type")).agg(
        count(lit(1)).as("nh"), sum(col("n")).as("s"),
        sum(col("n") * col("n")).as("ss"))
      hourly.join(broadcast(stats), "event_type")
        .withColumn("mean", col("s").cast("double") / col("nh").cast("double"))
        .withColumn("variance",
          col("ss").cast("double") / col("nh").cast("double")
            - col("mean") * col("mean"))
        .filter(col("variance") > 0)
        .withColumn("z", round(
          (col("n").cast("double") - col("mean")) / sqrt(col("variance")), 6))
        .select(col("window_start"), col("event_type"), col("n"), col("z"),
          (abs(col("z")) > 2.0).as("is_anomaly"))
        .orderBy(col("window_start"), col("event_type"))
    },
    Some("""
      WITH hourly AS (
        SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
               event_type, count(*) AS n
        FROM events GROUP BY 1, 2),
      stats AS (
        SELECT event_type, count(*) AS nh, sum(n) AS s, sum(n * n) AS ss
        FROM hourly GROUP BY event_type),
      z AS (
        SELECT window_start, event_type, n,
               CAST(s AS DOUBLE) / CAST(nh AS DOUBLE) AS mean,
               CAST(ss AS DOUBLE) / CAST(nh AS DOUBLE)
                 - (CAST(s AS DOUBLE) / CAST(nh AS DOUBLE))
                   * (CAST(s AS DOUBLE) / CAST(nh AS DOUBLE)) AS variance
        FROM hourly JOIN stats USING (event_type))
      SELECT window_start, event_type, n,
             round((CAST(n AS DOUBLE) - mean) / sqrt(variance), 6) AS z,
             abs(round((CAST(n AS DOUBLE) - mean) / sqrt(variance), 6)) > 2.0 AS is_anomaly
      FROM z WHERE variance > 0
      ORDER BY window_start, event_type"""))

  /** Telemetry debounce: drop an event when the PREVIOUS event of the
    * same (user, type) lies within an hour — client-side retry and
    * double-fire suppression before any funnel/retention math. One lag
    * window keyed by (user, type); ties broken by event_id so the kept
    * set is deterministic under identical timestamps. (The anchor-based
    * THROTTLE — keep one per horizon window measured from the last KEPT
    * event — is iterative state; its streaming rendition is the
    * mapGroupsWithState sessionizer's shape. The lag form is the
    * standard batch debounce and is exactly one codegen window.)
    */
  val qEventDebounce = Q(
    "q_event_debounce",
    (s, d) => {
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .withColumn("ts_us", unix_micros(col("ts")))
        .withColumn("prev_us", lag(col("ts_us"), 1).over(w))
        .filter(col("prev_us").isNull || col("ts_us") - col("prev_us") > 3600000000L)
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts_us"))
        .orderBy(col("user_id"), col("ts_us"), col("event_id"))
    },
    Some("""
      WITH lagged AS (
        SELECT event_id, user_id, event_type,
               epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
               lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER
                 (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS prev_us
        FROM events)
      SELECT event_id, user_id, event_type, ts_us
      FROM lagged
      WHERE prev_us IS NULL OR ts_us - prev_us > 3600000000
      ORDER BY user_id, ts_us, event_id"""))

  /** Winsorization (outlier clipping) at exact per-type P1/P99: the
    * cutoffs are the values at ranks ceil(n/100) and ceil(99n/100) —
    * rank-defined (integer math both engines), never interpolated, so
    * the clip is reproducible. The cutoff relation is one row per
    * event_type and rides back as a BROADCAST; the clipped total is an
    * exact decimal sum. The ranking window partitions per type — at
    * 100 TB swap the rank window for `ops/Selection.kthSmallest` per
    * group (histogram narrowing; same contract, no per-type sort) —
    * the query pins the semantics the scale path must reproduce.
    */
  val qWinsorize = Q(
    "q_winsorize",
    (s, d) => {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("value"), col("event_id"))
      val per = Window.partitionBy(col("event_type"))
      val cuts = Tables.events(s, d)
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(per))
        .filter(col("rn") === expr("(n + 99) DIV 100") ||
          col("rn") === expr("(99 * n + 99) DIV 100"))
        .groupBy(col("event_type"))
        .agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
      Tables.events(s, d)
        .join(broadcast(cuts), "event_type")
        .select(col("event_type"), col("lo"), col("hi"),
          least(greatest(col("value"), col("lo")), col("hi")).as("clipped"))
        .groupBy(col("event_type"), col("lo"), col("hi"))
        .agg(count(lit(1)).as("n"),
          asDouble(sum(dec(col("clipped")))).as("clipped_total"))
        .select(col("event_type"), col("n"), col("lo"), col("hi"), col("clipped_total"))
        .orderBy(col("event_type"))
    },
    Some("""
      WITH r AS (
        SELECT event_type, value,
               row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM events),
      cuts AS (
        SELECT event_type, min(value) AS lo, max(value) AS hi
        FROM r
        WHERE rn = (n + 99) // 100 OR rn = (99 * n + 99) // 100
        GROUP BY 1)
      SELECT e.event_type, count(*) AS n, c.lo, c.hi,
             CAST(sum(CAST(least(greatest(e.value, c.lo), c.hi) AS DECIMAL(18,4))) AS DOUBLE)
               AS clipped_total
      FROM events e JOIN cuts c USING (event_type)
      GROUP BY e.event_type, c.lo, c.hi
      ORDER BY event_type"""))

  /** Top session-opening paths: the ordered first-3 event types of each
    * 30-min session, counted corpus-wide — the navigation-pattern
    * summary behind funnel design (which openings are common enough to
    * instrument). Reuses q_events_sessionize's keyed lag/running-sum
    * session labels, then one row_number ≤ 3 window per session and a
    * count on the path string. Every window is (user)- or
    * (user, session)-keyed; paths shuffle once for the final count.
    */
  val qTopPaths = Q(
    "q_top_paths",
    (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val ws = Window.partitionBy(col("user_id"), col("session_seq"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .withColumn("prev_s", lag(col("ts").cast(LongType), 1).over(w))
        .withColumn("new_sess",
          when(col("prev_s").isNull || col("ts").cast(LongType) - col("prev_s") > 1800, 1)
            .otherwise(0))
        .withColumn("session_seq",
          sum(col("new_sess")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast(IntegerType))
        .withColumn("step", row_number().over(ws))
        .filter(col("step") <= 3)
        .groupBy(col("user_id"), col("session_seq"))
        // collect_list carries no order guarantee — sort the (step, type)
        // structs post-hoc so the path is deterministic
        .agg(expr("concat_ws('>', transform(array_sort(" +
          "collect_list(struct(step, event_type))), x -> x.event_type))").as("path"))
        .groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
        .orderBy(col("n_sessions").desc, col("path"))
        .limit(20)
    },
    Some("""
      WITH flagged AS (
        SELECT user_id, event_id, ts, event_type,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR date_diff('second', lag(ts) OVER w, ts) > 1800
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ), sessions AS (
        SELECT user_id, event_id, ts, event_type,
               CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INTEGER) AS session_seq
        FROM flagged
      ), stepped AS (
        SELECT user_id, session_seq, event_type,
               row_number() OVER (PARTITION BY user_id, session_seq
                                  ORDER BY ts, event_id) AS step
        FROM sessions
      ), paths AS (
        SELECT user_id, session_seq,
               string_agg(event_type, '>' ORDER BY step) AS path
        FROM stepped WHERE step <= 3
        GROUP BY 1, 2)
      SELECT path, count(*) AS n_sessions
      FROM paths GROUP BY 1
      ORDER BY n_sessions DESC, path LIMIT 20"""))

  /** Time-weighted average value per event type — the right mean for
    * irregularly-sampled series (a sensor reading "held" for 3 hours
    * must weigh 3 hours, not one sample). Each reading is weighted by
    * its holding interval (lead(ts) − ts, in micros; the last reading
    * of a type has no interval and drops out — the standard
    * left-closed convention). The weighted sum works in scaled
    * integers (value×10⁴ exact for the 4-dp domain; ×interval micros
    * stays under 38 digits) — DECIMAL(38,0) on Spark, HUGEINT in
    * DuckDB, associative on both — and the final quotient is one
    * double division on identical inputs. One lead window per type,
    * one keyed aggregation.
    */
  val qTimeWeightedAvg = Q(
    "q_time_weighted_avg",
    (s, d) => {
      val w = Window.partitionBy(col("event_type")).orderBy(col("ts_us"), col("event_id"))
      Tables.events(s, d)
        .withColumn("ts_us", unix_micros(col("ts")))
        .withColumn("dur_us", lead(col("ts_us"), 1).over(w) - col("ts_us"))
        .filter(col("dur_us").isNotNull)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n_intervals"),
          sum(col("dur_us")).as("span_us"),
          asDouble(sum(
            expr("CAST(round(value * 10000) AS DECIMAL(38,0)) * dur_us")))
            .as("wsum"))
        .select(col("event_type"), col("n_intervals"), col("span_us"),
          (col("wsum") / (col("span_us").cast("double") * lit(10000.0))).as("tw_avg"))
        .orderBy(col("event_type"))
    },
    Some("""
      WITH l AS (
        SELECT event_type, value,
               epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
               lead(epoch_us(CAST(ts AS TIMESTAMP))) OVER
                 (PARTITION BY event_type ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id)
                 - epoch_us(CAST(ts AS TIMESTAMP)) AS dur_us
        FROM events),
      a AS (
        SELECT event_type, count(*) AS n_intervals,
               CAST(sum(dur_us) AS BIGINT) AS span_us,
               CAST(sum(CAST(round(value * 10000) AS HUGEINT) * dur_us) AS DOUBLE) AS wsum
        FROM l WHERE dur_us IS NOT NULL
        GROUP BY 1)
      SELECT event_type, n_intervals, span_us,
             wsum / (CAST(span_us AS DOUBLE) * 10000.0) AS tw_avg
      FROM a ORDER BY event_type"""))

  /** q_winsorize's SCALE PATH made real: the identical output (and the
    * identical DuckDB oracle) with the per-type P1/P99 cutoffs computed
    * by [[graft.ops.Selection.kthSmallestByGroup]] — iterative
    * histogram narrowing for all types simultaneously, no per-type
    * sort, driver sees only bucket counts — instead of the rank
    * window. Rank-vs-value subtlety: the rank definition picks the
    * value at rank ceil(n/100) under (value, event_id) ordering; the
    * value-space narrowing returns the same VALUE (ties on value make
    * the tie-break order irrelevant to the value itself), which is
    * what the shared oracle proves.
    */
  val qWinsorizeScalable = Q(
    "q_winsorize_scalable",
    (s, d) => {
      import s.implicits._
      val events = Tables.events(s, d)
      // BOTH ranks narrow in the same per-round scan (multi-rank state)
      val both = graft.ops.Selection.kthSmallestByGroupMulti(
        events, "event_type", col("value"),
        Seq(n => (n + 99) / 100, n => (99 * n + 99) / 100))
      val cuts = both.keys.map(_._1).toSeq.distinct.sorted
        .map(g => (g, both((g, 0)), both((g, 1))))
        .toDF("event_type", "lo", "hi")
      events
        .join(broadcast(cuts), "event_type")
        .select(col("event_type"), col("lo"), col("hi"),
          least(greatest(col("value"), col("lo")), col("hi")).as("clipped"))
        .groupBy(col("event_type"), col("lo"), col("hi"))
        .agg(count(lit(1)).as("n"),
          asDouble(sum(dec(col("clipped")))).as("clipped_total"))
        .select(col("event_type"), col("n"), col("lo"), col("hi"), col("clipped_total"))
        .orderBy(col("event_type"))
    },
    Some("""
      WITH r AS (
        SELECT event_type, value,
               row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM events),
      cuts AS (
        SELECT event_type, min(value) AS lo, max(value) AS hi
        FROM r
        WHERE rn = (n + 99) // 100 OR rn = (99 * n + 99) // 100
        GROUP BY 1)
      SELECT e.event_type, count(*) AS n, c.lo, c.hi,
             CAST(sum(CAST(least(greatest(e.value, c.lo), c.hi) AS DECIMAL(18,4))) AS DOUBLE)
               AS clipped_total
      FROM events e JOIN cuts c USING (event_type)
      GROUP BY e.event_type, c.lo, c.hi
      ORDER BY event_type"""),
    headline = true)

  /** Per-type linear trend (least-squares slope + intercept of value
    * over event time) — drift detection for a metric stream. The
    * q_correlation discipline grouped: x is event-time micros CENTERED
    * on each type's first event (broadcast min join — centering keeps
    * x² sums ~10³⁴ at century spans, inside exact integer range), y is
    * value×10⁴; all five moments are exact integer sums, the
    * slope/intercept formulas run once per group on identical doubles.
    * Slope is reported per HOUR (slope_micros × 3.6e9 / 1e4 — pure
    * double scaling, deterministic).
    */
  val qTrend = Q(
    "q_trend",
    (s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_type"), unix_micros(col("ts")).as("ts_us"), col("value"))
      val t0 = ev.groupBy(col("event_type")).agg(min(col("ts_us")).as("t0"))
      ev.join(broadcast(t0), "event_type")
        .select(col("event_type"),
          expr("CAST(ts_us - t0 AS DECIMAL(38,0))").as("x"),
          expr("CAST(round(value * 10000) AS DECIMAL(38,0))").as("y"))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).cast("double").as("n"),
          asDouble(sum(col("x"))).as("sx"),
          asDouble(sum(col("y"))).as("sy"),
          asDouble(sum(col("x") * col("x"))).as("sxx"),
          asDouble(sum(col("x") * col("y"))).as("sxy"))
        .select(col("event_type"), col("n").cast("bigint").as("n_events"),
          round((col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx"))
            * lit(3.6e9) / lit(1e4), 6).as("slope_per_hour"),
          round((col("sy") - (col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx")) * col("sx"))
            / col("n") / lit(1e4), 6).as("intercept"))
        .orderBy(col("event_type"))
    },
    Some("""
      WITH ev AS (
        SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value
        FROM events),
      t0 AS (SELECT event_type, min(ts_us) AS t0 FROM ev GROUP BY 1),
      sc AS (
        SELECT ev.event_type,
               CAST(ts_us - t0 AS HUGEINT) AS x,
               CAST(round(value * 10000) AS HUGEINT) AS y
        FROM ev JOIN t0 USING (event_type)),
      m AS (
        SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
               CAST(sum(x * x) AS DOUBLE) AS sxx, CAST(sum(x * y) AS DOUBLE) AS sxy
        FROM sc GROUP BY 1)
      SELECT event_type, CAST(n AS BIGINT) AS n_events,
             round((n * sxy - sx * sy) / (n * sxx - sx * sx) * 3.6e9 / 1e4, 6)
               AS slope_per_hour,
             round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n / 1e4, 6)
               AS intercept
      FROM m ORDER BY event_type"""))

  /** Last-touch attribution, batch rendition of the streaming
    * interval join ([[graft.streaming.EventsStreaming.attributionJoin]]):
    * each purchase is attributed to the user's LATEST view within the
    * preceding 6 hours, or surfaces unattributed (organic). Composed as
    * [[graft.ops.TemporalOps.asofJoin]] (one keyed shuffle + carry —
    * never a per-pair interval join) with the horizon applied as a
    * post-filter on the carried timestamp; the oracle re-derives the
    * same winner with a window over the interval join.
    */
  val qAttribution = Q(
    "q_attribution",
    (s, d) => {
      val ev = Tables.events(s, d)
        .withColumn("ts_us", unix_micros(col("ts")))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts_us"), col("event_id").as("view_id"))
      graft.ops.TemporalOps.asofJoin(purchases, views, Seq("user_id"),
          "ts_us", "ts_us", Seq("view_id"))
        .select(col("event_id"), col("user_id"), col("ts_us"),
          when(col("asof_ts") >= col("ts_us") - 21600000000L,
            col("asof_view_id")).as("attributed_view_id"),
          when(col("asof_ts") >= col("ts_us") - 21600000000L,
            col("ts_us") - col("asof_ts")).as("lag_us"))
        .orderBy(col("event_id"))
    },
    Some("""
      WITH p AS (
        SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
        FROM events WHERE event_type = 'purchase'),
      v AS (
        SELECT user_id, event_id AS view_id, epoch_us(CAST(ts AS TIMESTAMP)) AS vts
        FROM events WHERE event_type = 'view'),
      j AS (
        SELECT p.event_id, p.user_id, p.ts_us, v.view_id, v.vts,
               row_number() OVER (PARTITION BY p.event_id
                                  ORDER BY v.vts DESC, v.view_id DESC) AS rk
        FROM p JOIN v ON p.user_id = v.user_id
                     AND v.vts <= p.ts_us AND v.vts >= p.ts_us - 21600000000)
      SELECT p.event_id, p.user_id, p.ts_us,
             j.view_id AS attributed_view_id,
             p.ts_us - j.vts AS lag_us
      FROM p LEFT JOIN j ON p.event_id = j.event_id AND j.rk = 1
      ORDER BY p.event_id"""))

  /** PageRank over the user–event_type affinity graph — the iterative
    * distributed-join shape (link analysis, graph centrality) the rest
    * of the registry lacks. Edges are (user, type) pairs with ≥ 15
    * events (sparsified so degrees differ), made bidirectional; each
    * iteration is one equi-join of the edge list with the current rank
    * vector plus one keyed aggregation — the canonical scalable
    * PageRank (Pregel-style message passing expressed as joins). No
    * per-node driver traffic; the only driver scalar is the node count.
    *
    * All arithmetic is FIXED-POINT INTEGER (rank mass = 1e12 units,
    * damping 0.85 as ×85 div 100): integer sums are order-independent,
    * so partial-aggregation order can't flip bits and the DuckDB
    * oracle (same recurrence unrolled as CTEs) matches exactly —
    * a float PageRank could never hash-match across engines.
    *
    * At 100 TB the edge list is the big relation: it stays partitioned
    * by src across iterations (one shuffle each for the join and the
    * dst aggregation); the rank vector is nodes-sized. Production runs
    * would checkpoint the rank lineage every ~5 iterations; at 3
    * iterations the nested plan is fine.
    */
  val qPagerank = Q(
    "q_pagerank",
    (s, d) => {
      val unit = 1000000000000L
      val iters = 3
      val edges = Tables.events(s, d)
        .groupBy(
          concat(lit("u"), col("user_id")).as("src"),
          concat(lit("t"), col("event_type")).as("dst"))
        .agg(count(lit(1)).as("n_ev"))
        .where(col("n_ev") >= 15)
        .select(col("src"), col("dst"))
      val bi = edges.unionAll(
        edges.select(col("dst").as("src"), col("src").as("dst")))
      // ITERATIVE TAIL ON A PARTITIONER-PINNED RDD (optimization r19 —
      // the dedupClusters trade, measured there and re-measured here):
      // the nested 3-iteration Catalyst plan paid per-rep analysis of a
      // deeply-nested plan plus one AQE stage-job per exchange (~16
      // jobs/run); pinning edge list, degree and rank vector to ONE
      // HashPartitioner makes the per-iteration join/leftOuterJoin
      // ZERO-shuffle, leaving exactly one reduceByKey exchange per
      // iteration and one action at the end. Arithmetic is the same
      // fixed-point integer recurrence (long division truncates
      // identically on the all-positive values), so the oracle's
      // unrolled CTEs still hash-match.
      // The edge list is persisted once, already partitioned; the 20-row
      // result is collected here and both persisted RDDs are released
      // before the query returns (nothing later reads them).
      val sc = s.sparkContext
      // node count ~ catalog-sized; a handful of partitions keeps late
      // stages dense (the CC loop's rowsPerPartition discipline)
      val p = new org.apache.spark.HashPartitioner(
        math.min(sc.defaultParallelism, 8))
      val biP = bi.rdd.map(r => (r.getString(0), r.getString(1)))
        .partitionBy(p)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // co-partitioned with biP: the degree count shuffles nothing
      val degR = biP.mapValues(_ => 1L).reduceByKey(p, _ + _)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      import s.implicits._
      val top = try {
        // bounded driver scalar: the node COUNT only. Floored at 1 so an
        // edgeless corpus (empty/sparse input) divides safely — deg is
        // empty then, so every downstream relation is empty regardless.
        val n = math.max(degR.count(), 1L)
        val base = (15L * unit) / (100L * n)
        var ranksR = degR.mapValues(dg => (dg, unit / n)) // (outdeg, r)
        for (_ <- 1 to iters) {
          val contrib = biP.join(ranksR)
            .map { case (_, (dst, (dg, r))) => (dst, r / dg) }
            .reduceByKey(p, _ + _)
          ranksR = degR.leftOuterJoin(contrib).mapValues { case (dg, c) =>
            (dg, base + (85L * c.getOrElse(0L)) / 100L)
          }
        }
        s.createDataset(ranksR.map { case (node, (_, r)) => (node, r) })
          .toDF("node", "rank_units")
          .orderBy(col("rank_units").desc, col("node")).limit(20)
          .as[(String, Long)].collect()
      } finally {
        biP.unpersist(blocking = false)
        degR.unpersist(blocking = false)
      }
      top.toSeq.toDF("node", "rank_units")
    },
    Some("""
      WITH edges AS (
        SELECT 'u' || CAST(user_id AS VARCHAR) AS src, 't' || event_type AS dst
        FROM events GROUP BY 1, 2 HAVING count(*) >= 15),
      bi AS (SELECT src, dst FROM edges
             UNION ALL SELECT dst AS src, src AS dst FROM edges),
      deg AS (SELECT src, count(*) AS outdeg FROM bi GROUP BY src),
      nn AS (SELECT count(*) AS n FROM deg),
      r0 AS (SELECT src, outdeg, 1000000000000 // n AS r FROM deg CROSS JOIN nn),
      c1 AS (SELECT bi.dst AS node, sum(r0.r // r0.outdeg) AS contrib
             FROM bi JOIN r0 ON bi.src = r0.src GROUP BY bi.dst),
      r1 AS (SELECT deg.src, deg.outdeg,
                    CAST((15 * 1000000000000) // (100 * n)
                         + (85 * coalesce(c1.contrib, 0)) // 100 AS BIGINT) AS r
             FROM deg CROSS JOIN nn LEFT JOIN c1 ON deg.src = c1.node),
      c2 AS (SELECT bi.dst AS node, sum(r1.r // r1.outdeg) AS contrib
             FROM bi JOIN r1 ON bi.src = r1.src GROUP BY bi.dst),
      r2 AS (SELECT deg.src, deg.outdeg,
                    CAST((15 * 1000000000000) // (100 * n)
                         + (85 * coalesce(c2.contrib, 0)) // 100 AS BIGINT) AS r
             FROM deg CROSS JOIN nn LEFT JOIN c2 ON deg.src = c2.node),
      c3 AS (SELECT bi.dst AS node, sum(r2.r // r2.outdeg) AS contrib
             FROM bi JOIN r2 ON bi.src = r2.src GROUP BY bi.dst),
      r3 AS (SELECT deg.src, deg.outdeg,
                    CAST((15 * 1000000000000) // (100 * n)
                         + (85 * coalesce(c3.contrib, 0)) // 100 AS BIGINT) AS r
             FROM deg CROSS JOIN nn LEFT JOIN c3 ON deg.src = c3.node)
      SELECT src AS node, r AS rank_units FROM r3
      ORDER BY rank_units DESC, node LIMIT 20"""),
    headline = true)

  /** INTERVAL×INTERVAL overlap join: which user pairs were active at
    * the same time, and for how long — concurrency analysis over the
    * 30-min-gap sessions of q_events_sessionize. This is the interval
    * join family's missing member (as-of = point×latest, range join =
    * point×interval; this is interval×interval).
    *
    * Scale shape: each session explodes to the HOUR BUCKETS it spans
    * (gap-bounded sessions span few), pairs meet in an equi-join on
    * the bucket, and the exact overlap predicate filters inside the
    * bucket — the classic banded interval join, no nested-loop range
    * scan at any scale. A pair sharing several buckets is emitted once
    * WITHOUT a dedup shuffle: only the first overlapped bucket —
    * max(start bucket of a, of b), always shared when intervals
    * overlap — keeps the pair. Overlap micros sum exactly (BIGINT).
    */
  val qIntervalOverlap = Q(
    "q_interval_overlap",
    (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val sessions = Tables.events(s, d)
        .withColumn("prev_s", lag(col("ts").cast(LongType), 1).over(w))
        .withColumn("new_sess",
          when(col("prev_s").isNull || col("ts").cast(LongType) - col("prev_s") > 1800, 1)
            .otherwise(0))
        .withColumn("session_seq",
          sum(col("new_sess")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast(IntegerType))
        .groupBy(col("user_id"), col("session_seq"))
        .agg(
          unix_micros(min(col("ts"))).as("start_us"),
          unix_micros(max(col("ts"))).as("end_us"))
      // persisted: BOTH self-join sides read this relation, and the
      // session window + explode would otherwise execute twice (the
      // two sides project different columns, so exchange reuse never
      // matches their subtrees)
      val banded = graft.ops.Caching.cachedOnce(sessions.select(
        col("user_id"), col("start_us"), col("end_us"),
        explode(expr("sequence(start_us div 3600000000, end_us div 3600000000)"))
          .as("bucket")))
      val a = banded.select(
        col("bucket"), col("user_id").as("user_a"),
        col("start_us").as("sa"), col("end_us").as("ea"))
      val b = banded.select(
        col("bucket"), col("user_id").as("user_b"),
        col("start_us").as("sb"), col("end_us").as("eb"))
      a.join(b, Seq("bucket"))
        .where(col("user_a") < col("user_b") &&
          col("sa") <= col("eb") && col("sb") <= col("ea") &&
          col("bucket") === greatest(
            expr("sa div 3600000000"), expr("sb div 3600000000")))
        .groupBy(col("user_a"), col("user_b"))
        .agg(
          count(lit(1)).as("n_overlaps"),
          sum(least(col("ea"), col("eb")) - greatest(col("sa"), col("sb")))
            .as("overlap_us"))
        .where(col("n_overlaps") >= 2)
        .orderBy(col("user_a"), col("user_b"))
    },
    Some("""
      WITH flagged AS (
        SELECT user_id, event_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR date_diff('second', lag(ts) OVER w, ts) > 1800
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ), numbered AS (
        SELECT user_id, ts,
               sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        FROM flagged
      ), sessions AS (
        SELECT user_id,
               epoch_us(CAST(min(ts) AS TIMESTAMP)) AS start_us,
               epoch_us(CAST(max(ts) AS TIMESTAMP)) AS end_us
        FROM numbered GROUP BY user_id, session_seq
      )
      SELECT a.user_id AS user_a, b.user_id AS user_b,
             count(*) AS n_overlaps,
             CAST(sum(least(a.end_us, b.end_us) - greatest(a.start_us, b.start_us))
                  AS BIGINT) AS overlap_us
      FROM sessions a JOIN sessions b
        ON a.user_id < b.user_id
       AND a.start_us <= b.end_us AND b.start_us <= a.end_us
      GROUP BY 1, 2 HAVING count(*) >= 2
      ORDER BY user_a, user_b"""),
    headline = true)

  /** The CAPPED interval-overlap join — the 100 TB rendition of
    * q_interval_overlap. The exact pair answer is OUTPUT-BOUND
    * (measured r13: 10× users sharing one wall-clock span grow the
    * true pair output ×107), so at scale the ANSWER must be bounded,
    * not the plan: per hour bucket, only the first `cap` sessions (by
    * start time — deterministic (start, user, end) tie-break) enter
    * the pairing, capping the fan-out at cap²/2 pairs per bucket
    * regardless of density. The cap is a deliberate, documented
    * approximation — densest-hour concurrency is truncated — and the
    * oracle replicates the same capped semantics exactly, so the gate
    * still checks equality, not a recall bound. Everything else
    * (banding, first-shared-bucket dedup, exact BIGINT overlap
    * micros) matches the uncapped operator.
    */
  val qIntervalOverlapCapped = Q(
    "q_interval_overlap_capped",
    (s, d) => {
      val cap = 20
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val sessions = Tables.events(s, d)
        .withColumn("prev_s", lag(col("ts").cast(LongType), 1).over(w))
        .withColumn("new_sess",
          when(col("prev_s").isNull || col("ts").cast(LongType) - col("prev_s") > 1800, 1)
            .otherwise(0))
        .withColumn("session_seq",
          sum(col("new_sess")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast(IntegerType))
        .groupBy(col("user_id"), col("session_seq"))
        .agg(
          unix_micros(min(col("ts"))).as("start_us"),
          unix_micros(max(col("ts"))).as("end_us"))
      val banded = graft.ops.Caching.cachedOnce(sessions.select(
          col("user_id"), col("start_us"), col("end_us"),
          explode(expr("sequence(start_us div 3600000000, end_us div 3600000000)"))
            .as("bucket"))
        .withColumn("rnk", row_number().over(Window.partitionBy(col("bucket"))
          .orderBy(col("start_us"), col("user_id"), col("end_us"))))
        .filter(col("rnk") <= cap).drop("rnk"))
      val a = banded.select(
        col("bucket"), col("user_id").as("user_a"),
        col("start_us").as("sa"), col("end_us").as("ea"))
      val b = banded.select(
        col("bucket"), col("user_id").as("user_b"),
        col("start_us").as("sb"), col("end_us").as("eb"))
      a.join(b, Seq("bucket"))
        .where(col("user_a") < col("user_b") &&
          col("sa") <= col("eb") && col("sb") <= col("ea") &&
          col("bucket") === greatest(
            expr("sa div 3600000000"), expr("sb div 3600000000")))
        .groupBy(col("user_a"), col("user_b"))
        .agg(
          count(lit(1)).as("n_overlaps"),
          sum(least(col("ea"), col("eb")) - greatest(col("sa"), col("sb")))
            .as("overlap_us"))
        .where(col("n_overlaps") >= 2)
        .orderBy(col("user_a"), col("user_b"))
    },
    Some("""
      WITH flagged AS (
        SELECT user_id, event_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR date_diff('second', lag(ts) OVER w, ts) > 1800
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      ), numbered AS (
        SELECT user_id, ts,
               sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        FROM flagged
      ), sessions AS (
        SELECT user_id,
               epoch_us(CAST(min(ts) AS TIMESTAMP)) AS start_us,
               epoch_us(CAST(max(ts) AS TIMESTAMP)) AS end_us
        FROM numbered GROUP BY user_id, session_seq
      ), banded AS (
        SELECT user_id, start_us, end_us,
               unnest(generate_series(start_us // 3600000000,
                                      end_us // 3600000000)) AS bucket
        FROM sessions
      ), capped AS (
        SELECT user_id, start_us, end_us, bucket FROM (
          SELECT *, row_number() OVER (PARTITION BY bucket
                      ORDER BY start_us, user_id, end_us) AS rnk
          FROM banded)
        WHERE rnk <= 20
      )
      SELECT a.user_id AS user_a, b.user_id AS user_b,
             count(*) AS n_overlaps,
             CAST(sum(least(a.end_us, b.end_us) - greatest(a.start_us, b.start_us))
                  AS BIGINT) AS overlap_us
      FROM capped a JOIN capped b
        ON a.bucket = b.bucket
       AND a.user_id < b.user_id
       AND a.start_us <= b.end_us AND b.start_us <= a.end_us
       AND a.bucket = greatest(a.start_us // 3600000000, b.start_us // 3600000000)
      GROUP BY 1, 2 HAVING count(*) >= 2
      ORDER BY user_a, user_b"""),
    headline = true)

  /** Robust per-group outlier detection via MEDIAN / MAD — the
    * z-score's (q_anomaly_hours) robust sibling: mean and stddev are
    * themselves dragged by the outliers they're meant to flag, while
    * the median and the median absolute deviation have a 50%
    * breakdown point.
    *
    * Both medians are RANK-ANCHORED exact order statistics (the lower
    * median, k = (n+1) div 2) computed by the histogram-narrowing
    * selection — never the exact-percentile aggregate (this repo's
    * canonical scale anti-pattern), never interpolated (interpolation
    * would put a last-bit float between the engines; rank anchoring
    * means both pick the same stored value). Group medians re-enter
    * the plan as a literal CASE chain (groups are the event types — a
    * fitted-parameter-sized object), so the deviation pass and the
    * outlier count stay map-side + one keyed aggregation.
    */
  val qRobustOutliers = Q(
    "q_robust_outliers",
    (s, d) => {
      import graft.ops.Selection
      val ev = Tables.events(s, d)
        .where(col("value").isNotNull)
        .select(col("event_type"), col("value"))
      val lowerMedian = Seq((n: Long) => (n + 1) / 2)
      val med = Selection.kthSmallestByGroupMulti(
        ev, "event_type", col("value"), lowerMedian)
      def caseChain(m: Map[(String, Int), Double]): org.apache.spark.sql.Column =
        m.toSeq.sortBy(_._1._1).foldLeft(lit(null).cast("double")) {
          case (acc, ((g, _), v)) => when(col("event_type") === g, lit(v)).otherwise(acc)
        }
      val withDev = ev.withColumn("med", caseChain(med))
        .withColumn("dev", abs(col("value") - col("med")))
      val mad = Selection.kthSmallestByGroupMulti(
        withDev, "event_type", col("dev"), lowerMedian)
      withDev.withColumn("mad", caseChain(mad))
        .groupBy(col("event_type"))
        .agg(
          max(col("med")).as("med"), // constant within group
          max(col("mad")).as("mad"),
          count(when(col("dev") > lit(3.0) * col("mad"), 1)).as("n_outliers"),
          count(lit(1)).as("n"))
        .orderBy(col("event_type"))
    },
    Some("""
      WITH ev AS (
        SELECT event_type, value FROM events WHERE value IS NOT NULL),
      med AS (
        SELECT event_type, quantile_disc(value, 0.5) AS med
        FROM ev GROUP BY event_type),
      dev AS (
        SELECT ev.event_type, ev.value, med.med,
               abs(ev.value - med.med) AS dev
        FROM ev JOIN med USING (event_type)),
      mad AS (
        SELECT event_type, quantile_disc(dev, 0.5) AS mad
        FROM dev GROUP BY event_type)
      SELECT dev.event_type, max(dev.med) AS med, max(mad.mad) AS mad,
             count(*) FILTER (WHERE dev.dev > 3.0 * mad.mad) AS n_outliers,
             count(*) AS n
      FROM dev JOIN mad USING (event_type)
      GROUP BY dev.event_type ORDER BY event_type"""))

  /** Automation/bot detection by inter-event-gap regularity: a human's
    * event gaps are bursty (high variance relative to the mean); a
    * scheduled client fires on a near-fixed period (variance ≪ mean²).
    * Report the 10 most-regular users (≥ 20 gaps) by squared
    * coefficient of variation — entirely in exact integer arithmetic:
    * gaps in micros via one per-user lag window, and
    * CV² = (n·Σg² − S²)/S² carried as a div-rounded integer in micros
    * (DECIMAL(38,0)/HUGEINT keeps century-scale micro sums exact;
    * Cauchy–Schwarz keeps the numerator nonnegative so floor and
    * truncation agree). One keyed window + one keyed aggregation +
    * TakeOrdered.
    */
  val qBotScore = Q(
    "q_bot_score",
    (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .withColumn("prev", lag(unix_micros(col("ts")), 1).over(w))
        .filter(col("prev").isNotNull)
        .withColumn("g", unix_micros(col("ts")) - col("prev"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_gaps"),
          sum(col("g")).as("sg"),
          sum(expr("CAST(g AS DECIMAL(38,0)) * g")).as("sg2"))
        .filter(col("n_gaps") >= 20 && col("sg") > 0)
        .select(col("user_id"), col("n_gaps"),
          expr("CAST(sg div n_gaps AS BIGINT)").as("mean_gap_us"),
          expr("""CAST(((CAST(n_gaps AS DECIMAL(38,0)) * sg2
                         - CAST(sg AS DECIMAL(38,0)) * sg) * 1000000)
                       div (CAST(sg AS DECIMAL(38,0)) * sg) AS BIGINT)""")
            .as("cv2_micros"))
        .orderBy(col("cv2_micros"), col("user_id"))
        .limit(10)
    },
    Some("""
      WITH g AS (
        SELECT user_id,
               epoch_us(CAST(ts AS TIMESTAMP))
                 - lag(epoch_us(CAST(ts AS TIMESTAMP)))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id) AS g
        FROM events),
      a AS (
        SELECT user_id, count(*) AS n_gaps,
               CAST(sum(g) AS HUGEINT) AS sg,
               CAST(sum(CAST(g AS HUGEINT) * g) AS HUGEINT) AS sg2
        FROM g WHERE g IS NOT NULL GROUP BY user_id)
      SELECT user_id, CAST(n_gaps AS BIGINT) AS n_gaps,
             CAST(sg // n_gaps AS BIGINT) AS mean_gap_us,
             CAST(((n_gaps::HUGEINT * sg2 - sg::HUGEINT * sg) * 1000000)
                  // (sg::HUGEINT * sg) AS BIGINT) AS cv2_micros
      FROM a WHERE n_gaps >= 20 AND sg > 0
      ORDER BY cv2_micros, user_id LIMIT 10"""))

  /** Markov transition matrix over per-user event journeys:
    * P(next event type | current) with exact integer-micros
    * probabilities (DetMath.ratio6 — no float division disagreement
    * between engines). Where q_top_paths surfaces the most common
    * whole sequences, the transition matrix is the model-shaped
    * summary (next-step prediction, journey simulation, anomaly
    * scoring of improbable hops). Scale shape: one window partitioned
    * by user_id (per-user state, never a global sort; ties broken by
    * event_id so both engines see the same successor), one pair-keyed
    * count, and a type-cardinality-sized marginal join.
    */
  val qEventTransitions = Q(
    "q_event_transitions",
    (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val pairs = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type"), col("next_type"))
        .agg(count(lit(1)).as("n"))
      val marg = pairs.groupBy(col("event_type")).agg(sum(col("n")).as("tot"))
      pairs.join(marg, "event_type")
        .select(col("event_type"), col("next_type"), col("n"),
          graft.functions.DetMath.ratio6(col("n"), col("tot")).as("p"))
        .orderBy(col("event_type"), col("next_type"))
    },
    Some(s"""
      WITH seq AS (
        SELECT user_id, event_type,
               lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        FROM events),
      pairs AS (
        SELECT event_type, next_type, count(*) AS n
        FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2),
      marg AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS tot FROM pairs GROUP BY 1)
      SELECT event_type, next_type, n,
             ${graft.functions.DetMath.ratio6Sql("n", "tot")} AS p
      FROM pairs JOIN marg USING (event_type)
      ORDER BY event_type, next_type"""))

  /** Lag-24h autocorrelation of hourly event volume per type — the
    * periodicity detector (a diurnal workload shows a strong positive
    * acf at lag 24; its absence on a "user" source is itself a bot
    * signal complementary to q_bot_score's per-user gap regularity).
    * The series is densified with zeros over the observed hour span
    * (missing hours are real zeros, not absent observations — an
    * inner-join-only acf would silently condition on activity), the
    * lag pairing is an equi-join on (type, hour+24) — never a window
    * — and the correlation runs on exact integer sums cast once at
    * the end, the q_correlation portability recipe.
    */
  val qAutocorrelation = Q(
    "q_autocorrelation",
    (s, d) => {
      // the hourly relation is (types × hours)-sized — tiny — but
      // feeds THREE branches (bounds, the type list, the grid join)
      // and the dense grid self-joins for the lag; cached, the whole
      // query reads events once (6 scans → 1, r12 scan sweep)
      val hourly = graft.ops.Caching.cachedOnce(Tables.events(s, d)
        .select(col("event_type"),
          expr("unix_micros(ts) div 3600000000").as("hr"))
        .groupBy(col("event_type"), col("hr")).agg(count(lit(1)).as("n")))
      val bounds = hourly.agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"))
      val dense = hourly.select(col("event_type")).distinct()
        .crossJoin(broadcast(bounds))
        .select(col("event_type"), explode(sequence(col("h0"), col("h1"))).as("hr"))
        .join(hourly, Seq("event_type", "hr"), "left")
        .na.fill(0L, Seq("n"))
      val lagged = dense.select(col("event_type"),
        (col("hr") - 24).as("hr"), col("n").as("y"))
      dense.join(lagged, Seq("event_type", "hr"))
        .select(col("event_type"), col("n").as("x"), col("y"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).cast("double").as("np"),
          asDouble(sum(col("x"))).as("sx"), asDouble(sum(col("y"))).as("sy"),
          asDouble(sum(col("x") * col("y"))).as("sxy"),
          asDouble(sum(col("x") * col("x"))).as("sxx"),
          asDouble(sum(col("y") * col("y"))).as("syy"))
        .select(col("event_type"),
          // zero variance (degenerate/constant series) has no defined
          // correlation — NULL, not a DIVIDE_BY_ZERO under ANSI mode.
          // The variance terms clamp at 0: beyond 2^53 the
          // mathematically-nonnegative difference can round to a tiny
          // negative double, which DuckDB's sqrt hard-errors on while
          // Spark yields NaN — clamping BOTH sides keeps the engines
          // in agreement instead of crashing the oracle
          (sqrt(greatest(col("np") * col("sxx") - col("sx") * col("sx"), lit(0.0))) *
            sqrt(greatest(col("np") * col("syy") - col("sy") * col("sy"), lit(0.0))))
            .as("den"),
          (col("np") * col("sxy") - col("sx") * col("sy")).as("num"))
        .select(col("event_type"),
          when(col("den") > 0, round(col("num") / col("den"), 6)).as("acf24"))
        .orderBy(col("event_type"))
    },
    Some("""
      WITH hourly AS (
        SELECT event_type, epoch_us(ts) // 3600000000 AS hr, count(*) AS n
        FROM events GROUP BY 1, 2),
      b AS (SELECT min(hr) AS h0, max(hr) AS h1 FROM hourly),
      grid AS (
        SELECT event_type, unnest(range(h0, h1 + 1)) AS hr
        FROM (SELECT DISTINCT event_type FROM hourly) CROSS JOIN b),
      dense AS (
        SELECT g.event_type, g.hr, coalesce(n, 0) AS n
        FROM grid g LEFT JOIN hourly USING (event_type, hr)),
      pairs AS (
        SELECT d.event_type, d.n AS x, l.n AS y
        FROM dense d JOIN dense l
          ON d.event_type = l.event_type AND l.hr = d.hr + 24),
      agg AS (
        SELECT event_type, CAST(count(*) AS DOUBLE) AS np,
               CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
               CAST(sum(x*y) AS DOUBLE) AS sxy,
               CAST(sum(x*x) AS DOUBLE) AS sxx,
               CAST(sum(y*y) AS DOUBLE) AS syy
        FROM pairs GROUP BY 1)
      SELECT event_type,
             CASE WHEN sqrt(greatest(np*sxx - sx*sx, 0)) * sqrt(greatest(np*syy - sy*sy, 0)) > 0
                  THEN round((np*sxy - sx*sy) /
                             (sqrt(greatest(np*sxx - sx*sx, 0)) * sqrt(greatest(np*syy - sy*sy, 0))), 6)
             END AS acf24
      FROM agg ORDER BY event_type"""))

  val all: Seq[Q] = Seq(
    qEventsTumbling, qEventsSessionize, qEventsRunning, qRollingHour,
    qEventsJson, qEventsLatest, qEventsJsonStruct, qAsofJoin, qAsofNative,
    qAsofBroadcast, qAsofForward, qAsofTolerance, qPitFeatures,
    qGapFill, qRangeJoin, qFunnel, qRetention, qAnomalyHours, qEventDebounce,
    qWinsorize, qTopPaths, qTimeWeightedAvg, qWinsorizeScalable, qTrend,
    qAttribution, qPagerank, qIntervalOverlap, qIntervalOverlapCapped,
    qSlidingWindow, qRobustOutliers,
    qBotScore, qEventTransitions, qAutocorrelation)
}
