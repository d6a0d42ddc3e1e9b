package graft.gates

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.queries.Tables.events
import graft.operators.Events._

/** The gates over [[graft.operators.Events]]: one `Gate` row each. */
object EventsGates {

  private val Money = graft.ops.Transforms.Money

  val all: Seq[Gate] = Seq(
    // tumbling 1-hour window aggregation (the watermarked streaming agg's
    // batch twin).
    Gate("q_events_window",
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS h,
        |       event_type, count(*) AS n,
        |       CAST(CAST(sum(CAST(value AS DECIMAL(19,4))) AS DECIMAL(19,4)) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY h, event_type""".stripMargin,
      (s, dir) =>
        events(s, dir)
          .groupBy(
            date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("h"),
            col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast(Money)).cast(Money).cast(DoubleType).as("total_value"))
          .orderBy("h", "event_type")),

    // stream-static dimension enrichment, batch twin: events left-join
    // the customer dim on user_id (broadcast — the fact side never
    // shuffles for the join; unmatched users land in 'UNKNOWN'), then
    // per-segment totals. The streaming side (EventStream.enriched) runs
    // the IDENTICAL stateless join incrementally; EventStreamSpec
    // asserts row-level streaming ≡ batch. Money sums go through
    // DECIMAL(19,4) (order-independent) before the final double render.
    Gate("q_enrich_events",
      """SELECT coalesce(c.c_mktsegment, 'UNKNOWN') AS segment,
        |       count(*) AS n_events,
        |       CAST(CAST(sum(CAST(e.value AS DECIMAL(19,4))) AS DECIMAL(19,4)) AS DOUBLE) AS total_value
        |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1 ORDER BY segment""".stripMargin,
      (s, dir) =>
        events(s, dir)
          .join(broadcast(graft.queries.Tables.customer(s, dir)
            .select(col("c_custkey"), col("c_mktsegment"))),
            col("user_id") === col("c_custkey"), "left")
          .groupBy(coalesce(col("c_mktsegment"), lit("UNKNOWN")).as("segment"))
          .agg(count(lit(1)).as("n_events"),
            sum(col("value").cast(Money)).cast(Money).cast(DoubleType).as("total_value"))
          .orderBy("segment")),

    // JSON property extraction + aggregation.
    Gate("q_events_json",
      """SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k, count(*) AS n,
        |       CAST(CAST(sum(CAST(value AS DECIMAL(19,4))) AS DECIMAL(19,4)) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1 ORDER BY k NULLS FIRST""".stripMargin,
      (s, dir) =>
        events(s, dir)
          .select(get_json_object(col("props"), "$.k").cast(IntegerType).as("k"),
            col("value"))
          .groupBy("k")
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast(Money)).cast(Money).cast(DoubleType).as("total_value"))
          // k is nullable (events without $.k): pin NULL ordering on both
          // sides (Spark default NULLS FIRST vs DuckDB NULLS LAST)
          .orderBy(asc_nulls_first("k"))),

    // schema-full JSON parsing (from_json with an explicit struct schema,
    // vs q_events_json's path extraction) — same result, different
    // operator: the parsed struct is columnar-prunable downstream.
    Gate("q_json_struct",
      """SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k, count(*) AS n
        |FROM events GROUP BY 1 ORDER BY k NULLS FIRST""".stripMargin,
      (s, dir) =>
        events(s, dir)
          .select(from_json(col("props"), lit("k INT")).getField("k").as("k"))
          .groupBy("k").agg(count(lit(1)).as("n"))
          .orderBy(asc_nulls_first("k"))),

    // RANGE window frame: per-user 7-day rolling event count over daily
    // buckets — RANGE (value-based) semantics are tie-immune by
    // construction, unlike ROWS frames. (-6, 0) over day numbers spans
    // exactly 7 calendar days inclusive (r2 shipped -7: an 8-day frame).
    Gate("q_rolling_week",
      """SELECT user_id, d, n,
        |       CAST(sum(n) OVER (PARTITION BY user_id ORDER BY d
        |                         RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS rolling_7d
        |FROM (SELECT user_id, epoch_us(ts) // 86400000000 AS d, count(*) AS n
        |      FROM events GROUP BY 1, 2)
        |ORDER BY user_id, d""".stripMargin,
      (s, dir) =>
        events(s, dir)
          .select(col("user_id"), expr("unix_micros(ts) DIV 86400000000").as("d"))
          .groupBy("user_id", "d").agg(count(lit(1)).as("n"))
          .withColumn("rolling_7d",
            sum("n").over(Window.partitionBy("user_id").orderBy("d")
              .rangeBetween(-6, 0)).cast(LongType))
          .orderBy("user_id", "d")),

    // sessionization: per-user session count with a 30-minute gap rule —
    // the mapGroupsWithState analog, expressed as one lag window over
    // epoch seconds.
    Gate("q_sessionize",
      """SELECT user_id, count(*) AS n_events,
        |       CAST(sum(new_session) AS BIGINT) AS n_sessions
        |FROM (
        |  SELECT user_id,
        |         CASE WHEN prev_s IS NULL OR (epoch_us(ts) // 1000000) - prev_s >= 1800
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM (
        |    -- epoch_us // 1e6 floors to seconds, matching Spark's
        |    -- unix_timestamp truncation (epoch()::BIGINT would round).
        |    SELECT user_id, ts,
        |           lag(epoch_us(ts) // 1000000) OVER (PARTITION BY user_id
        |                                              ORDER BY ts, event_id) AS prev_s
        |    FROM events))
        |GROUP BY 1 ORDER BY user_id""".stripMargin,
      (s, dir) => {
        val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val gap = unix_timestamp(col("ts")) -
          lag(unix_timestamp(col("ts")), 1).over(byUser)
        events(s, dir)
          .select(col("user_id"), col("ts"), col("event_id"))
          .withColumn("new_session",
            when(gap.isNull || gap >= SessionGapSeconds, 1).otherwise(0))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_events"),
            sum("new_session").cast(LongType).as("n_sessions"))
          .orderBy("user_id")
      }),

    // funnel attribution: click → purchase by the same user within one
    // hour, counted per user — the BATCH TWIN of the watermarked
    // stream-stream join (EventStream.funnelJoin; equivalence asserted in
    // EventStreamSpec). The equi-key is user_id (shuffle partitioning
    // key; per-user event counts bound the range-condition fan-out), the
    // time range is a residual predicate — at 100 TB this is one shuffle
    // of the two filtered event streams, no cross product. Joined on
    // integer MICROSECOND epochs on both engines: Spark's reader
    // truncates the nanos timestamps to micros, so the oracle compares
    // at the same precision (epoch_ns // 1000) instead of risking a
    // boundary flip on sub-microsecond differences.
    Gate("q_funnel_attrib",
      """SELECT c.user_id, count(*) AS n_attributed
        |FROM (SELECT user_id, epoch_ns(ts) // 1000 AS c_us
        |      FROM events WHERE event_type = 'click') c
        |JOIN (SELECT user_id, epoch_ns(ts) // 1000 AS b_us
        |      FROM events WHERE event_type = 'purchase') b
        |  ON c.user_id = b.user_id
        | AND b.b_us >= c.c_us AND b.b_us - c.c_us < 3600000000
        |GROUP BY 1 ORDER BY c.user_id""".stripMargin,
      (s, dir) => {
        val ev = events(s, dir)
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), unix_micros(col("ts")).as("c_us"))
        val buys = ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("b_user"), unix_micros(col("ts")).as("b_us"))
        clicks.join(buys,
            col("user_id") === col("b_user") &&
              col("b_us") >= col("c_us") &&
              col("b_us") - col("c_us") < lit(3600000000L))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_attributed"))
          .orderBy("user_id")
      }),

    // the same session semantics through Spark's NATIVE session_window
    // operator (built-in-first: one groupBy with a dynamic-gap window
    // instead of the lag+cumsum rewrite above). Unlike q_sessionize
    // (whose gap rule is SECOND-truncated to mirror unix_timestamp),
    // session_window measures the gap at full microsecond precision, so
    // its oracle is the micros-level lag rule; the boundary matches
    // because the session interval is [start, last+gap) exclusive
    // (diff == gap ⇒ new session on both sides).
    Gate("q_session_window",
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(sum(new_session) AS BIGINT) AS n_sessions
        |FROM (
        |  SELECT user_id,
        |         CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us >= 1800000000
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM (
        |    SELECT user_id, ts,
        |           lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |                                   ORDER BY ts, event_id) AS prev_us
        |    FROM events))
        |GROUP BY 1 ORDER BY user_id""".stripMargin,
      (s, dir) =>
        events(s, dir)
          .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
          .agg(count(lit(1)).as("n_ev"))
          .groupBy("user_id")
          .agg(sum("n_ev").cast(LongType).as("n_events"),
            count(lit(1)).as("n_sessions"))
          .select("user_id", "n_events", "n_sessions")
          .orderBy("user_id")),
  )
}
