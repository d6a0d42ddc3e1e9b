package graft.gates

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.Transforms
import graft.queries.Tables._
import graft.operators.ScalePatterns._

/** The gates over [[graft.operators.ScalePatterns]]: one `Gate` row each. */
object ScalePatternsGates {

  val all: Seq[Gate] = Seq(
    // Z-order clustered rectangle read: the manifest prunes files
    // BEFORE any table I/O; the oracle is the PLAIN filter over the
    // raw table — a hash match proves the clustered layout + manifest
    // pruning is semantics-preserving (the saltedJoin rule); the spec
    // proves files were actually skipped.
    // the plain full-scan filter: file skipping must be invisible here
    Gate("q_zorder_skip",
      """SELECT l_orderkey, l_partkey, l_linenumber FROM lineitem
        |WHERE l_orderkey BETWEEN 100 AND 400 AND l_partkey BETWEEN 50 AND 300
        |ORDER BY 1, 2, 3""".stripMargin,
      (s, dir) => {
        val path = ensureZorderedLineitem(s, dir)
        skipRead(s, path, "l_orderkey", "l_partkey", 100L, 400L, 50L, 300L)._1
          .orderBy("l_orderkey", "l_partkey", "l_linenumber")
      }),

    // salted fact⋈dim aggregation — the oracle is the PLAIN join, so a
    // hash match proves the salting is semantics-preserving.
    Gate("q_salted_join",
      """SELECT s_nationkey, count(*) AS n_items,
        |       CAST(CAST(sum(CAST(l_quantity AS DECIMAL(19,4))) AS DECIMAL(19,4)) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY 1 ORDER BY s_nationkey""".stripMargin,
      (s, dir) =>
        saltedJoin(
          lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey"),
            col("l_quantity").cast(Transforms.Money).as("qty")),
          supplier(s, dir).select(col("s_suppkey"), col("s_nationkey")),
          col("l_suppkey"), col("s_suppkey"), nSalts = 8)
          .groupBy("s_nationkey")
          .agg(count(lit(1)).as("n_items"),
            sum("qty").cast(Transforms.Money).cast(DoubleType).as("sum_qty"))
          .orderBy("s_nationkey")),

    // temporal proximity pairs (burst structure): events followed by
    // another event within 10 minutes, counted per type pair. The oracle
    // runs the plain non-equi join — a hash match proves the bucketed
    // equi-rewrite is semantics-preserving.
    Gate("q_range_join",
      """SELECT a_type, b_type, count(*) AS n_pairs FROM (
        |  SELECT a.event_type AS a_type, b.event_type AS b_type
        |  FROM events a JOIN events b
        |    ON epoch_us(b.ts) > epoch_us(a.ts)
        |   AND epoch_us(b.ts) <= epoch_us(a.ts) + 600000000)
        |GROUP BY 1, 2 ORDER BY a_type, b_type""".stripMargin,
      (s, dir) =>
        bucketedRangePairs(events(s, dir), windowUs = 600000000L)
          .groupBy("a_type", "b_type")
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy("a_type", "b_type")),

    // co-bucketed fact⋈fact join: the merge hint forces the sort-merge
    // shape a 100 TB plan takes, and bucketing makes it exchange-free
    // (ScalePatternsSpec pins SortMergeJoin with zero ShuffleExchange
    // below it); the oracle is the PLAIN join from raw parquet, so the
    // hash proves the bucketed layout is semantics-preserving.
    Gate("q_bucketed_join",
      """SELECT o_orderstatus, count(*) AS n_items,
        |       CAST(CAST(sum(CAST(l_quantity AS DECIMAL(19,4))) AS DECIMAL(19,4)) AS DOUBLE) AS sum_qty
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,
      (s, dir) => {
        val (o, l) = ensureBucketedPair(s, dir)
        o.hint("merge").join(l, col("o_orderkey") === col("l_orderkey"))
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_items"),
            sum("qty").cast(Transforms.Money).cast(DoubleType).as("sum_qty"))
          .orderBy("o_orderstatus")
      }),

    // contiguous global ids in curriculum order (longest docs first) —
    // the oracle's single row_number() window IS the single-partition
    // anti-pattern; the operator must reproduce it exactly via the
    // two-phase range form.
    Gate("q_global_ids",
      """SELECT doc_id, n_chars,
        |       CAST(row_number() OVER (ORDER BY n_chars DESC, doc_id) - 1 AS BIGINT) AS row_id
        |FROM documents ORDER BY doc_id""".stripMargin,
      (s, dir) =>
        contiguousIds(
          documents(s, dir).select(col("doc_id"), col("n_chars")),
          Seq(col("n_chars").desc, col("doc_id").asc))
          .orderBy("doc_id")),

    // size-balanced shard export: docs in doc_id order packed into
    // shards of ShardBudget chars via the distributed exclusive
    // prefix sum — the oracle's running-sum window IS the
    // single-partition anti-pattern the two-phase form replaces.
    Gate("q_shard_assign",
      s"""SELECT doc_id, n_chars,
         |       CAST(COALESCE(sum(n_chars) OVER (ORDER BY doc_id
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |         // $ShardBudget AS BIGINT) AS shard_id
         |FROM documents ORDER BY doc_id""".stripMargin,
      (s, dir) =>
        prefixSums(
          documents(s, dir).select(col("doc_id"), col("n_chars")),
          Seq(col("doc_id").asc), col("n_chars"))
          .select(col("doc_id"), col("n_chars"),
            expr(s"cum_before div $ShardBudget").as("shard_id"))
          .orderBy("doc_id")),

    // length-bucketed batching: rank docs by (token count, doc_id)
    // through the same two-phase prefix-sum machinery (no
    // single-partition window), cut into fixed-size batches of
    // LengthBatchSize, report per-batch padding waste — the dynamic
    // batching step every padded-training/inference loader runs, where
    // length-sorted batches cut the Σ(B·max−Σlen) padding tax to near
    // zero vs arrival order.
    // rank by (toks, doc_id) via row_number − 1 (≡ the exclusive count
    // prefix sum), batches of LengthBatchSize, same waste arithmetic.
    Gate("q_length_batching",
      s"""WITH d AS (
         |  SELECT doc_id,
         |         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS toks
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, toks,
         |         (row_number() OVER (ORDER BY toks, doc_id) - 1)
         |           // $LengthBatchSize AS batch_id
         |  FROM d)
         |SELECT CAST(batch_id AS BIGINT) AS batch_id,
         |       count(*) AS n_docs,
         |       CAST(max(toks) AS BIGINT) AS max_toks,
         |       CAST(sum(toks) AS BIGINT) AS sum_toks,
         |       CAST(count(*) * max(toks) - sum(toks) AS BIGINT) AS padding_waste
         |FROM r GROUP BY 1 ORDER BY batch_id""".stripMargin,
      (s, dir) =>
        prefixSums(
          documents(s, dir).select(col("doc_id"),
            graft.operators.TextAnalysis.wsTokens(col("text"))
              .cast(LongType).as("toks")),
          Seq(col("toks").asc, col("doc_id").asc), lit(1L), "rk")
          .select(col("doc_id"), col("toks"),
            expr(s"rk div $LengthBatchSize").as("batch_id"))
          .groupBy("batch_id")
          .agg(count(lit(1)).as("n_docs"), max("toks").as("max_toks"),
            sum("toks").as("sum_toks"))
          .withColumn("padding_waste",
            col("n_docs") * col("max_toks") - col("sum_toks"))
          .orderBy("batch_id")),

    // merge/upsert: deterministic update batch (keys %97 get a price
    // bump, keys %193 arrive as new orders) merged into orders; the
    // per-status aggregate pins both the survivor set and the arithmetic.
    Gate("q_merge_upsert",
      """WITH ord AS (
        |  SELECT o_orderkey, o_orderstatus,
        |         CAST(o_totalprice AS DECIMAL(19,4)) AS price
        |  FROM orders),
        |upd AS (
        |  SELECT o_orderkey, o_orderstatus,
        |         CAST(price + 1000 AS DECIMAL(19,4)) AS price
        |  FROM ord WHERE o_orderkey % 97 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 1000000000, o_orderstatus, price
        |  FROM ord WHERE o_orderkey % 193 = 0),
        |merged AS (
        |  SELECT * FROM ord WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
        |  UNION ALL
        |  SELECT * FROM upd)
        |SELECT o_orderstatus, count(*) AS n_orders,
        |       CAST(CAST(sum(price) AS DECIMAL(19,4)) AS DOUBLE) AS total_price
        |FROM merged GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,
      (s, dir) => {
        val ord = orders(s, dir)
          .select(col("o_orderkey"), col("o_orderstatus"),
            col("o_totalprice").cast(Transforms.Money).as("price"))
        val mods = ord.filter(col("o_orderkey") % 97 === 0)
          .withColumn("price", (col("price") + lit(1000)).cast(Transforms.Money))
        val ins = ord.filter(col("o_orderkey") % 193 === 0)
          .select((col("o_orderkey") + lit(1000000000L)).as("o_orderkey"),
            col("o_orderstatus"), col("price"))
        mergeUpsert(ord, mods.unionByName(ins), "o_orderkey")
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n_orders"),
            sum("price").cast(Transforms.Money).cast(DoubleType).as("total_price"))
          .orderBy("o_orderstatus")
      }),
  )
}
