package graft.operators

/** Event-stream analytics over the `events` table (event_id, ts,
  * user_id, event_type, value, props-json) — the batch twins of the
  * Structured Streaming pipeline in graft.streaming (same window /
  * session semantics, verifiable against the DuckDB oracle; streaming
  * equivalence is asserted in the test suite).
  *
  * 100 TB design notes: tumbling windows and JSON extraction are narrow
  * (one shuffle for the final groupBy); sessionization shuffles once on
  * user_id and computes gaps with a lag window inside each partition —
  * the identical dataflow `flatMapGroupsWithState` would run
  * incrementally on a stream.
  *
  * Timestamps are rendered as formatted strings (not raw TIMESTAMP):
  * Spark parquet timestamps come back tz-aware ('...+00:00') through the
  * driver's pyarrow read while DuckDB's are naive — a string column is
  * representation-stable on both sides. Epoch-second arithmetic is used
  * for gaps (truncation direction identical on both engines).
  */
object Events {

  /** Session bounds: a new session starts after a ≥30-minute silence. */
  val SessionGapSeconds = 1800L
}
