package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.Transforms
import graft.queries.Tables._

/** Relational parity surface — one named query per reference operator row
  * in SURVEY.md §2, each paired with ANSI SQL for the driver's DuckDB
  * oracle. Determinism rules (SURVEY.md §7.5): every query ends in a
  * total orderBy incl. tiebreaker; money math in DECIMAL(19,4) applied
  * per-row BEFORE aggregation (decimal sums are exact and
  * order-independent — double sums are not); NULL ordering pinned
  * explicitly (Spark ASC = NULLS FIRST, DuckDB ASC = NULLS LAST by
  * default).
  *
  * Result-type rule (learned from round-1 CORRECTNESS): the driver's
  * comparison reads the Spark parquet with pyarrow (DECIMAL stays
  * Decimal, '19525.0000') but the DuckDB oracle through a pandas
  * conversion where DECIMAL and HUGEINT become float64 ('19525.0') —
  * so money columns are summed exactly in DECIMAL(19,4) and then cast
  * to DOUBLE for presentation on BOTH sides, and oracle sums of
  * integers carry CAST(... AS BIGINT). Exact-decimal semantics live in
  * the internal math; only the final rendering is double.
  */
object Parity {

  private val Money = Transforms.Money

  /** Signed ledger amount: returns are debits (Hogia `Inköp` analog),
    * everything else credits — the Hogia-shaped frame of SURVEY.md §7.4
    * derived from lineitem at benchable scale. */
  private def signedAmount: Column =
    when(col("l_returnflag") === "R", -col("l_extendedprice"))
      .otherwise(col("l_extendedprice"))
      .cast(Money)

  /** This module's share of the driver-visible gate surface —
    * bump WITH any gate added here (RegistrySpec sums the
    * module-local declarations; no global count exists). */
  val declaredGates: Int = 34

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S5/P1: full scan with explicit projection (hhek2sqlite.go:212 —
    // projection lists are explicit, never SELECT *).
    // NOTE the testdata contains duplicate (l_orderkey, l_linenumber)
    // pairs, so orderings must include enough columns to be TOTAL — tied
    // rows otherwise swap arbitrarily between engines (found at sf0.1).
    "q_scan_project" -> ((s, dir) =>
      lineitem(s, dir)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag")
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag")),

    // P2: parameterized point lookup WHERE (Löpnr=?) (db_test.go:414-415).
    // The "parameter" is derived (min key) so the query is sf-stable; the
    // 1-row lookup side is broadcast, no shuffle of the fact table.
    "q_point_lookup" -> ((s, dir) => {
      val o = orders(s, dir)
      val k = o.agg(min("o_orderkey").as("k"))
      o.join(broadcast(k), col("o_orderkey") === col("k"))
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .orderBy("o_orderkey")
    }),

    // A1: COUNT(*) (hhek2sqlite.go:1137-1146).
    "q_count_rows" -> ((s, dir) =>
      lineitem(s, dir).agg(count(lit(1)).as("cnt"))),

    // F6/P3: empty string → NULL (hhek2sqlite.go:639-643), grouped to a
    // small deterministic result.
    "q_null_empty" -> ((s, dir) => {
      val stripped = regexp_replace(col("o_orderpriority"), "1-URGENT", "")
      orders(s, dir)
        .select(Transforms.emptyToNull(stripped).as("prio"))
        .groupBy("prio").agg(count(lit(1)).as("cnt"))
        .orderBy(asc_nulls_first("prio"))
    }),

    // F2: comma-decimal text → exact DECIMAL(19,4) round-trip
    // (hhek2sqlite.go:161-167), then an exact decimal sum.
    "q_decimal_cast" -> ((s, dir) => {
      val asText = Transforms.point2comma(col("l_quantity").cast(Money))
      lineitem(s, dir)
        .select(col("l_returnflag"), Transforms.comma2point(asText).as("qty"))
        .groupBy("l_returnflag")
        .agg(sum("qty").cast(Money).cast(DoubleType).as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    // F1 escaping half: ' → '' quote doubling (hhek2sqlite.go:66-71).
    "q_escape_compat" -> ((s, dir) =>
      customer(s, dir)
        .select(col("c_custkey"),
          Transforms.sqlEscapeCompat(concat(lit("O'"), col("c_name"))).as("escaped"))
        .orderBy("c_custkey")),

    // F1 decode half: route every name through the cp1252 encode→decode
    // codec (custom codegen expressions); the oracle is the PLAIN
    // projection, so the hash match proves the codec is lossless on the
    // cp1252 domain at scale (byte-level € /å/ä/ö cases in TransformsSpec).
    "q_cp1252_identity" -> ((s, dir) =>
      customer(s, dir)
        .select(col("c_custkey"),
          Transforms.toUtf8(Transforms.fromUtf8(col("c_name"))).as("c_name"))
        .orderBy("c_custkey")),

    // F8: ISO date parse yyyy-MM-dd (db_test.go:466-468): format to the
    // reference's TEXT(10) carrier then parse back, group by month.
    "q_date_parse" -> ((s, dir) => {
      val d = to_date(date_format(col("o_orderdate"), "yyyy-MM-dd"), "yyyy-MM-dd")
      orders(s, dir)
        .select(year(d).as("y"), month(d).as("m"))
        .groupBy("y", "m").agg(count(lit(1)).as("cnt"))
        .orderBy("y", "m")
    }),

    // F4: boolean → 'true'/'false' literal text (hhek2sqlite.go:261).
    "q_bool_format" -> ((s, dir) =>
      lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("l_discount") > 0.05).cast(StringType).as("flag"))
        .orderBy("l_orderkey", "l_linenumber", "flag")),

    // A2 flagship: account balance as exact signed decimal sum
    // (db_test.go:374-386 — Saldo = deposits − purchases). Partial
    // aggregation map-side, one shuffle on the group key.
    "q_saldo_per_konto" -> ((s, dir) =>
      lineitem(s, dir)
        .select(col("l_suppkey").as("konto"), signedAmount.as("belopp"))
        .groupBy("konto")
        .agg(sum("belopp").cast(Money).cast(DoubleType).as("saldo"))
        .orderBy("konto")),

    // §2.5: the latent running balance the converter NULLs out
    // (hhek2sqlite.go:260) — reconstructed per account in date order.
    "q_running_saldo" -> ((s, dir) => {
      // belopp is the final tiebreaker: (konto, shipdate, orderkey,
      // linenumber) is NOT unique in the testdata, and the running sum
      // visits tied rows in window order — both engines must agree on it.
      val w = Window.partitionBy("konto")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "belopp")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      lineitem(s, dir)
        .select(col("l_suppkey").as("konto"), col("l_shipdate"),
          col("l_orderkey"), col("l_linenumber"), signedAmount.as("belopp"))
        .withColumn("saldo", sum("belopp").over(w).cast(Money).cast(DoubleType))
        .withColumn("belopp", col("belopp").cast(DoubleType))
        .orderBy("konto", "l_shipdate", "l_orderkey", "l_linenumber", "belopp")
    }),

    // §2.4: implied FK equi-join fact→dim; dimension broadcast so the
    // fact side never shuffles.
    "q_fk_join_segment" -> ((s, dir) =>
      orders(s, dir)
        .join(broadcast(customer(s, dir)), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(Money)).cast(Money).cast(DoubleType).as("total"))
        .orderBy("c_mktsegment")),

    // §2.4: multi-way STAR join — fact (orders) against a 3-level dim
    // chain (customer → nation → region), revenue per region. The scale
    // shape: every dim side broadcasts (region 5 rows, nation 25,
    // customer ~1.5% of fact), so the fact table never shuffles for the
    // joins; the only exchange is the 5-group final agg after map-side
    // partial aggregation. PlanSpec asserts the all-broadcast plan.
    "q_star_join" -> ((s, dir) =>
      orders(s, dir)
        .join(broadcast(customer(s, dir)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(Money)).cast(Money).cast(DoubleType).as("revenue"))
        .orderBy("r_name")),

    // §2.4: left_semi (EXISTS) integrity probe.
    "q_semi_exists" -> ((s, dir) =>
      customer(s, dir)
        .join(orders(s, dir).filter(col("o_orderstatus") === "F"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")),

    // §2.4: left_anti (NOT EXISTS) orphan check — customers with no
    // orders, the "transactions whose Vem has no Personer row" analog.
    "q_anti_orphans" -> ((s, dir) =>
      customer(s, dir)
        .join(orders(s, dir), col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")),

    // §2.4: LEFT OUTER — per-customer order count including zeros (the
    // preserved-side null semantics the anti-join only witnesses).
    "q_left_join_counts" -> ((s, dir) =>
      customer(s, dir)
        .join(orders(s, dir), col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_orders"))
        .orderBy("c_custkey")),

    // §2.3-absent DISTINCT, map-side partial dedup then one shuffle.
    "q_distinct" -> ((s, dir) =>
      lineitem(s, dir)
        .select("l_returnflag", "l_linestatus").distinct()
        .orderBy("l_returnflag", "l_linestatus")),

    // §2.6: top-k — TakeOrderedAndProject (per-partition top-k + merge),
    // never a global sort.
    "q_topk_orders" -> ((s, dir) =>
      orders(s, dir)
        .select("o_orderkey", "o_totalprice")
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
        .limit(10)),

    // §2.6 set ops: UNION (dedup union of nation keys).
    "q_union_nations" -> ((s, dir) =>
      customer(s, dir).select(col("c_nationkey").as("nk"))
        .union(supplier(s, dir).select(col("s_nationkey").as("nk")))
        .distinct()
        .orderBy("nk")),

    // §2.6 set ops: EXCEPT.
    "q_except_nations" -> ((s, dir) =>
      customer(s, dir).select(col("c_nationkey").as("nk")).distinct()
        .except(supplier(s, dir).select(col("s_nationkey").as("nk")).distinct())
        .orderBy("nk")),

    // §2.5: ranking window — top 3 orders per customer.
    "q_rank_per_group" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          row_number().over(w).as("rn"))
        .filter(col("rn") <= 3)
        .select("o_custkey", "rn", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey", "rn")
    }),

    // Same idiom as q_rank_per_group but with the rank column DROPPED —
    // the shape graft.plans.TopKRewrite rewrites into the bounded-heap
    // operator. The SPARK SIDE is written entirely in the plain window
    // API (no explicit TopK call); PlanSpec pins that the executed plan
    // contains TopKPerKeyExec and no WindowExec, and this gate pins
    // that the rewritten plan's rows still hash-match the window
    // semantics DuckDB computes.
    "q_topk_rewrite" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          row_number().over(w).as("rn"))
        .filter(col("rn") <= 3)
        .drop("rn")
        .orderBy("o_custkey", "o_orderkey")
    }),

    // GROUP BY extension: ROLLUP with exact decimal sums; NULL subtotal
    // keys ordered NULLS FIRST on both engines.
    "q_rollup_status" -> ((s, dir) =>
      lineitem(s, dir)
        .select(col("l_returnflag"), col("l_linestatus"),
          col("l_quantity").cast(Money).as("qty"))
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"),
          sum("qty").cast(Money).cast(DoubleType).as("sum_qty"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))),

    // grouping_id over ROLLUP: distinguishes NULL-as-subtotal from NULL
    // data (Spark grouping_id == DuckDB GROUPING bitmask, MSB = first key).
    "q_grouping_id" -> ((s, dir) =>
      lineitem(s, dir)
        .rollup("l_returnflag", "l_linestatus")
        .agg(grouping_id().cast(IntegerType).as("gid"), count(lit(1)).as("cnt"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))),

    // exact COUNT(DISTINCT) — two-phase partial aggregation under AQE.
    "q_count_distinct" -> ((s, dir) =>
      lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("n_parts"))
        .orderBy("l_returnflag")),

    // CUBE: all grouping-set combinations with exact decimal sums.
    "q_cube_status" -> ((s, dir) =>
      lineitem(s, dir)
        .select(col("l_returnflag"), col("l_linestatus"),
          col("l_quantity").cast(Money).as("qty"))
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"),
          sum("qty").cast(Money).cast(DoubleType).as("sum_qty"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))),

    // §2.6 set ops: INTERSECT.
    "q_intersect_nations" -> ((s, dir) =>
      customer(s, dir).select(col("c_nationkey").as("nk")).distinct()
        .intersect(supplier(s, dir).select(col("s_nationkey").as("nk")).distinct())
        .orderBy("nk")),

    // PIVOT: the reference's Budget table IS a pivoted monthly matrix
    // (Jan..Dec Currency columns, dbinfo.txt:46-57) — here as a dynamic
    // operator: order counts by status × month, zero-filled like the
    // oracle's FILTER form.
    "q_pivot_months" -> ((s, dir) =>
      orders(s, dir)
        .select(col("o_orderstatus").as("status"), month(col("o_orderdate")).as("m"))
        .groupBy("status")
        .pivot("m", (1 to 12).map(Integer.valueOf))
        .agg(count(lit(1)))
        .select(col("status") +:
          (1 to 12).map(i => coalesce(col(s"`$i`"), lit(0L)).as(f"m$i%02d")): _*)
        .orderBy("status")),

    // UNPIVOT (melt): the inverse — flatten the month matrix back to rows;
    // proves pivot∘unpivot round-trips to the plain GROUP BY.
    "q_unpivot_months" -> ((s, dir) => {
      val p = orders(s, dir)
        .select(col("o_orderstatus").as("status"), month(col("o_orderdate")).as("m"))
        .groupBy("status")
        .pivot("m", (1 to 12).map(Integer.valueOf))
        .agg(count(lit(1)))
        .select(col("status") +:
          (1 to 12).map(i => coalesce(col(s"`$i`"), lit(0L)).as(f"m$i%02d")): _*)
      p.unpivot(Array(col("status")),
          (1 to 12).map(i => col(f"m$i%02d")).toArray, "m", "cnt")
        .filter(col("cnt") > 0)
        .orderBy("status", "m")
    }),

    // array aggregation: sorted distinct collect rendered as CSV — the
    // deterministic form of collect_set (unsorted collect is
    // order-nondeterministic and would never hash-match).
    "q_collect_status" -> ((s, dir) =>
      lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(concat_ws(",", array_sort(collect_set(col("l_linestatus")))).as("statuses"))
        .orderBy("l_returnflag")),

    // exact interpolated median (SQL PERCENTILE_CONT semantics on both
    // engines: sorted position (n-1)p, linear interpolation in double).
    "q_median_price" -> ((s, dir) =>
      lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(percentile(col("l_extendedprice"), lit(0.5)).as("median_price"))
        .orderBy("l_returnflag")),

    // HLL sketch: approx_count_distinct, oracle-checked. The HLL++
    // estimate itself is implementation-specific, so the gate emits the
    // EXACT distinct count (computed independently in both engines) plus
    // each engine's OWN estimator 5%-error band (the r13 q_hll_merge
    // convention: floor(|est−exact|·20/exact), 0 = within 5 % — Spark
    // from HLL++ at rsd 0.02, DuckDB from its approx_count_distinct),
    // so the oracle asserts a quantity it computed, never a constant.
    // Deterministic for fixed data: neither HLL has run-time randomness.
    "q_hll_distinct" -> ((s, dir) =>
      lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey"), 0.02).as("est"),
          countDistinct(col("l_partkey")).as("exact_parts"))
        .select(col("l_returnflag"), col("exact_parts"),
          floor(abs(col("est") - col("exact_parts")) * 20 /
            col("exact_parts")).cast(LongType).as("err_band_5pct"))
        .orderBy("l_returnflag")),

    // quantile SKETCH (approx_percentile, the KLL/GK-style mergeable
    // estimator — the streaming/distributed path where exact PERCENTILE
    // would need a global sort): gate mirrors q_hll_distinct — the EXACT
    // median both engines compute independently, plus each engine's own
    // sketch 1%-error band (Spark: percentile_approx at accuracy 10000;
    // DuckDB: its t-digest approx_quantile). Measured band 0 at every
    // SF with ≥ 2× margin on both sides.
    "q_approx_quantile" -> ((s, dir) =>
      lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(percentile(col("l_extendedprice"), lit(0.5)).as("exact_median"),
          percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000)).as("est"))
        .select(col("l_returnflag"), col("exact_median"),
          floor(abs(col("est") - col("exact_median")) * 100 /
            abs(col("exact_median"))).cast(LongType).as("err_band_1pct"))
        .orderBy("l_returnflag")),

    // D3/D4/EP1-EP2: truncate-load round-trip — write Overwrite twice
    // (idempotence), read back, prove identity against the source.
    // Scratch dir is per-application (appId) under an overridable root
    // (spark conf `graft.scratch`), so concurrent driver runs over the
    // same dataset never race on one path.
    "q_roundtrip" -> ((s, dir) => {
      val root = s.conf.getOption("graft.scratch").getOrElse("target/tmp")
      val out = s"$root/${s.sparkContext.applicationId}/roundtrip_" +
        dir.replaceAll("[^0-9a-zA-Z]", "_")
      val src = lineitem(s, dir)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
      src.write.mode("overwrite").parquet(out)
      src.write.mode("overwrite").parquet(out) // idempotent truncate-load
      s.read.parquet(out)
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    })
  )

  val oracles: Map[String, String] = Map(
    // two-sided bands (the r13 q_hll_merge convention): DuckDB asserts
    // its OWN estimator's error band, not a constant
    "q_approx_quantile" ->
      """SELECT l_returnflag,
        |       quantile_cont(l_extendedprice, 0.5) AS exact_median,
        |       CAST(floor(abs(approx_quantile(l_extendedprice, 0.5)
        |                      - CAST(quantile_cont(l_extendedprice, 0.5) AS DOUBLE)) * 100
        |                  / abs(CAST(quantile_cont(l_extendedprice, 0.5) AS DOUBLE)))
        |            AS BIGINT) AS err_band_1pct
        |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin,
    "q_hll_distinct" ->
      """SELECT l_returnflag,
        |       CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
        |       CAST(floor(abs(CAST(approx_count_distinct(l_partkey) AS DOUBLE)
        |                      - count(DISTINCT l_partkey)) * 20
        |                  / count(DISTINCT l_partkey)) AS BIGINT) AS err_band_5pct
        |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin,
    "q_scan_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag""".stripMargin,
    "q_point_lookup" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
        |WHERE o_orderkey = (SELECT min(o_orderkey) FROM orders) ORDER BY o_orderkey""".stripMargin,
    "q_count_rows" -> "SELECT count(*) AS cnt FROM lineitem",
    "q_null_empty" ->
      """SELECT CASE WHEN length(replace(o_orderpriority, '1-URGENT', '')) = 0 THEN NULL
        |            ELSE replace(o_orderpriority, '1-URGENT', '') END AS prio,
        |       count(*) AS cnt
        |FROM orders GROUP BY 1 ORDER BY prio NULLS FIRST""".stripMargin,
    "q_decimal_cast" ->
      """SELECT l_returnflag,
        |       CAST(CAST(sum(CAST(replace(replace(CAST(CAST(l_quantity AS DECIMAL(19,4)) AS VARCHAR),
        |                             '.', ','), ',', '.') AS DECIMAL(19,4))) AS DECIMAL(19,4)) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin,
    "q_escape_compat" ->
      """SELECT c_custkey, replace(replace('O''' || c_name, '''', ''''''), '"', '""') AS escaped
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q_cp1252_identity" ->
      """SELECT c_custkey, c_name FROM customer ORDER BY c_custkey""".stripMargin,
    "q_cube_status" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        |       CAST(CAST(sum(CAST(l_quantity AS DECIMAL(19,4))) AS DECIMAL(19,4)) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q_intersect_nations" ->
      """SELECT DISTINCT c_nationkey AS nk FROM customer
        |INTERSECT SELECT DISTINCT s_nationkey AS nk FROM supplier ORDER BY nk""".stripMargin,
    "q_median_price" ->
      """SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS median_price
        |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin,
    "q_collect_status" ->
      """SELECT l_returnflag,
        |       string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus) AS statuses
        |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin,
    "q_pivot_months" -> {
      val cols = (1 to 12).map(i =>
        s"count(*) FILTER (WHERE month(o_orderdate) = $i) AS m${"%02d".format(i)}")
        .mkString(",\n|       ")
      s"""SELECT o_orderstatus AS status,
         |       $cols
         |FROM orders GROUP BY 1 ORDER BY status""".stripMargin
    },
    "q_unpivot_months" ->
      """SELECT o_orderstatus AS status,
        |       'm' || lpad(CAST(month(o_orderdate) AS VARCHAR), 2, '0') AS m,
        |       count(*) AS cnt
        |FROM orders GROUP BY 1, 2 ORDER BY status, m""".stripMargin,
    "q_date_parse" ->
      """SELECT CAST(year(d) AS INT) AS y, CAST(month(d) AS INT) AS m, count(*) AS cnt
        |FROM (SELECT CAST(strftime(o_orderdate, '%Y-%m-%d') AS DATE) AS d FROM orders)
        |GROUP BY 1, 2 ORDER BY y, m""".stripMargin,
    "q_bool_format" ->
      """SELECT l_orderkey, l_linenumber, CAST(l_discount > 0.05 AS VARCHAR) AS flag
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, flag""".stripMargin,
    "q_saldo_per_konto" ->
      """SELECT l_suppkey AS konto,
        |       CAST(CAST(sum(CAST(CASE WHEN l_returnflag = 'R' THEN -l_extendedprice
        |                          ELSE l_extendedprice END AS DECIMAL(19,4))) AS DECIMAL(19,4)) AS DOUBLE) AS saldo
        |FROM lineitem GROUP BY 1 ORDER BY konto""".stripMargin,
    "q_running_saldo" ->
      """SELECT l_suppkey AS konto, l_shipdate, l_orderkey, l_linenumber,
        |       CAST(CAST(CASE WHEN l_returnflag = 'R' THEN -l_extendedprice
        |                 ELSE l_extendedprice END AS DECIMAL(19,4)) AS DOUBLE) AS belopp,
        |       CAST(CAST(sum(CAST(CASE WHEN l_returnflag = 'R' THEN -l_extendedprice
        |                          ELSE l_extendedprice END AS DECIMAL(19,4)))
        |            OVER (PARTITION BY l_suppkey
        |                  ORDER BY l_shipdate, l_orderkey, l_linenumber,
        |                           CAST(CASE WHEN l_returnflag = 'R' THEN -l_extendedprice
        |                                ELSE l_extendedprice END AS DECIMAL(19,4))
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |            AS DECIMAL(19,4)) AS DOUBLE) AS saldo
        |FROM lineitem ORDER BY konto, l_shipdate, l_orderkey, l_linenumber, belopp""".stripMargin,
    "q_fk_join_segment" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |       CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(19,4))) AS DECIMAL(19,4)) AS DOUBLE) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin,
    "q_star_join" ->
      """SELECT r_name, count(*) AS n_orders,
        |       CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(19,4))) AS DECIMAL(19,4)) AS DOUBLE) AS revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1 ORDER BY r_name""".stripMargin,
    "q_semi_exists" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin,
    "q_anti_orphans" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q_left_join_counts" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY 1 ORDER BY c_custkey""".stripMargin,
    "q_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_topk_orders" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "q_union_nations" ->
      """SELECT c_nationkey AS nk FROM customer
        |UNION SELECT s_nationkey FROM supplier ORDER BY nk""".stripMargin,
    "q_except_nations" ->
      """SELECT DISTINCT c_nationkey AS nk FROM customer
        |EXCEPT SELECT DISTINCT s_nationkey AS nk FROM supplier ORDER BY nk""".stripMargin,
    "q_rank_per_group" ->
      """SELECT o_custkey, CAST(rn AS INT) AS rn, o_orderkey, o_totalprice
        |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
        |             row_number() OVER (PARTITION BY o_custkey
        |                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |      FROM orders)
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "q_topk_rewrite" ->
      """SELECT o_custkey, o_orderkey, o_totalprice
        |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
        |             row_number() OVER (PARTITION BY o_custkey
        |                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |      FROM orders)
        |WHERE rn <= 3 ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_rollup_status" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        |       CAST(CAST(sum(CAST(l_quantity AS DECIMAL(19,4))) AS DECIMAL(19,4)) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q_count_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts
        |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin,
    "q_grouping_id" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid, count(*) AS cnt
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q_roundtrip" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_returnflag""".stripMargin
  )
}
