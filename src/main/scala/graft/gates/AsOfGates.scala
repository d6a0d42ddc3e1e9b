package graft.gates

import org.apache.spark.sql.functions._

import graft.queries.Tables.events
import graft.operators.AsOf._

/** The gates over [[graft.operators.AsOf]]: one `Gate` row each. */
object AsOfGates {

  val all: Seq[Gate] = Seq(
    // for every click, the value of the user's most recent error at or
    // before it — validated against DuckDB's native ASOF JOIN. The right
    // side is pre-deduped to ONE row per (user_id, ts) — keep the max
    // event_id's value — because DuckDB's ASOF JOIN leaves the row choice
    // UNSPECIFIED on tied right timestamps, while asofJoin breaks ties
    // deterministically; canonicalizing the input makes both engines
    // compare the same thing (ADVICE r2).
    // epoch_us on both sides: Spark timestamps are µs while the source
    // parquet is ns — comparing at the same precision keeps the >=
    // boundary identical. Right side deduped to one row per (user_id, ts)
    // (max event_id's value) to mirror the Spark query's canonicalization.
    Gate("q_asof_join",
      """SELECT c.user_id, c.event_id, e.value AS asof_value
        |FROM (SELECT user_id, event_id, epoch_us(ts) AS tus FROM events
        |      WHERE event_type = 'click') c
        |ASOF LEFT JOIN
        |     (SELECT user_id, epoch_us(ts) AS tus, arg_max(value, event_id) AS value
        |      FROM events WHERE event_type = 'error' GROUP BY 1, 2) e
        |ON c.user_id = e.user_id AND c.tus >= e.tus
        |ORDER BY c.user_id, c.event_id""".stripMargin,
      (s, dir) => {
        val ev = events(s, dir)
          .select(col("user_id"), col("event_id"), col("event_type"),
            unix_micros(col("ts")).as("tus"), col("value"))
        val clicks = ev.filter(col("event_type") === "click")
          .select("user_id", "event_id", "tus")
        val errors = ev.filter(col("event_type") === "error")
          .groupBy("user_id", "tus")
          .agg(max("event_id").as("event_id"),
            max_by(col("value"), col("event_id")).as("value"))
        asofJoin(clicks, errors, key = "user_id", ts = "tus", id = "event_id",
          valueCol = "value")
          .select(col("user_id"), col("event_id"), col("asof_value"))
          .orderBy("user_id", "event_id")
      }),
  )
}
