package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** AS-OF join — "for each left row, the latest right row at or before
  * its timestamp, per key". Spark has no native operator (SPARK-22947);
  * the brief's preference order says compose from existing ops when
  * semantics allow, and they do:
  *
  *   union(tagged left, tagged right)
  *     → window last(value, ignoreNulls) over (key ORDER BY ts, tag, id
  *                                             ROWS UNBOUNDED PRECEDING)
  *     → keep left rows
  *
  * One shuffle on the key, linear state, no range-condition join (a
  * naive `l.ts >= r.ts` join is a per-key cross product — quadratic on
  * active keys; the MERGE-sorted window is how kdb/Flink implement it).
  * Right rows sort BEFORE left rows at equal timestamps (tag 0 < 1), so
  * the match is inclusive, same as DuckDB's `ASOF JOIN ... >=` — which
  * is the oracle validating these semantics cross-engine.
  *
  * At 100 TB: the shuffle carries (key, ts, tag, value) — value columns
  * only from the right side; skewed keys are ordinary window skew (AQE /
  * pre-salt with per-salt windows then re-merge).
  */
object AsOf {

  /** Left rows of `left` + `asof_<valueCol>`: the latest `valueCol` from
    * `right` with `right.ts <= left.ts` within the same `key` (null when
    * no prior right row exists). `id` breaks timestamp ties
    * deterministically. */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      ts: String,
      id: String,
      valueCol: String): DataFrame = {
    val reserved = Seq("__tag", "__asof_row", s"asof_$valueCol")
    require(!reserved.exists(left.columns.contains),
      s"asofJoin: left input must not already have columns ${reserved.mkString(", ")}")
    // The carried value is wrapped in a struct so that a right row whose
    // value IS NULL still registers as "a match" — last(..., ignoreNulls)
    // must skip left rows (no right row there) but not null-valued right
    // rows, exactly like ASOF JOIN matches the latest ROW, not the
    // latest non-null value.
    val l = left.withColumn("__tag", lit(1))
    val r = right
      .select(col(key), col(ts), col(id),
        struct(col(valueCol).as("v")).as("__asof_row"))
      .withColumn("__tag", lit(0))
    val w = Window.partitionBy(key)
      .orderBy(col(ts), col("__tag"), col(id))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(r, allowMissingColumns = true)
      .withColumn(s"asof_$valueCol",
        last(col("__asof_row"), ignoreNulls = true).over(w).getField("v"))
      .filter(col("__tag") === 1)
      .drop("__tag", "__asof_row")
  }
}
