package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.Transforms
import graft.queries.Tables._

/** Scale patterns the 100 TB deployment leans on, expressed as reusable
  * operators with oracle-checked semantic equivalence (SURVEY.md §7.7
  * item 6): key-salting for skewed joins and partition-aligned writes.
  *
  * AQE's skew-join handling covers most cases at runtime; explicit
  * salting remains the tool when a single key is hot enough to overflow
  * one task even after AQE splits (the classic power-law fact key), and
  * it is the pattern the oracle can verify: a salted join must produce
  * EXACTLY the rows of the plain join.
  */
object ScalePatterns {

  /** Skew-safe equi-join: the (potentially skewed) left side gets a
    * deterministic per-row salt derived from its whole row hash; the
    * (small) right side is exploded `nSalts`× so every (key, salt)
    * combination finds its match. Result set is identical to
    * `left.join(right, leftKey === rightKey)` — verified by the oracle.
    *
    * At 100 TB: nSalts spreads one hot key over nSalts reducers; the
    * right-side explosion costs |right|×nSalts rows, which is why the
    * pattern pairs with a broadcast-unfriendly but still bounded dim. */
  def saltedJoin(
      left: DataFrame,
      right: DataFrame,
      leftKey: Column,
      rightKey: Column,
      nSalts: Int): DataFrame = {
    require(!left.columns.contains("__salt") && !right.columns.contains("__salt"),
      "saltedJoin: inputs must not already have a __salt column")
    val salted = left.withColumn("__salt",
      pmod(xxhash64(struct(left.columns.map(col).toSeq: _*)), lit(nSalts)))
    val exploded = right.withColumn("__salt",
      explode(array((0 until nSalts).map(lit): _*)))
    salted.join(exploded,
        leftKey === rightKey && salted("__salt") === exploded("__salt"))
      .drop("__salt")
  }

  /** Bucketed range self-join — the rewrite that turns a pure interval
    * predicate (which Spark can only plan as a broadcast-nested-loop /
    * cartesian — THE 100 TB scale killer) into an equi-join on a time
    * bucket. One side keeps its own bucket; the other is replicated to
    * (bucket, bucket−1); since a qualifying pair's buckets differ by at
    * most one, every pair matches exactly once — no post-dedup. The
    * exact range filter then runs on the bucket-bounded candidates.
    * PlanSpec asserts the plan contains no nested-loop join.
    *
    * DEGENERATE-OCCUPANCY GUARD (the r6 lesson: a testdata bug squeezed
    * 30 days into 5 buckets and this rewrite silently went quadratic,
    * 0.9 s → 357 s). The equi-rewrite's cost is Σ_bkt n(bkt)·(n(bkt)+
    * n(bkt+1)) — a hot bucket (thundering-herd burst) recreates the
    * cartesian blowup locally in ONE reducer. So, before joining, one
    * cheap partial-aggregated pass counts bucket occupancy, and:
    *
    *  - a bucket whose candidate-pair count exceeds `maxBucketPairs`
    *    FAILS LOUDLY (the honest answer is genuinely quadratic — the
    *    caller must widen buckets, pre-aggregate, or raise the cap
    *    knowingly; silence is how r6 burned 357 s producing garbage);
    *  - a bucket whose ESTIMATED PAIRS n·(n+n_next) exceed
    *    `pairsPerTask` (or whose own rows exceed `sliceRows`) is
    *    SUB-SPLIT (the simhash band lesson, Sketch.scala): the probe
    *    side hashes into slices, the build side replicates to every
    *    slice — same pairs, but the hot bucket's work spreads over
    *    slices reducers and per-task state stays bounded instead of one
    *    straggler holding the whole bucket. Slices derive from
    *    est_pairs, NOT just the bucket's own occupancy: a task's work
    *    is n(X)·(n(X)+n(X+1)), so a small bucket adjacent to a huge
    *    next bucket is exactly as hot as a large one (ADVICE r7 — the
    *    straggler shape an occupancy-only criterion misses).
    *
    * The hot list is bounded by totalRows/min(sliceRows,
    * √(pairsPerTask/2)) entries (≈ totalRows/5800 at the defaults — the
    * est_pairs criterion marks a bucket hot from ~5.8k rows beside an
    * equal neighbor), so the collected slice map stays a broadcastable
    * few-KB relation for any realistic time span; cold buckets
    * (slices = 1) pay nothing but the broadcast-join lookup. Rows with identical (us, type) hash to the
    * same slice — a corpus of byte-identical events should be
    * pre-aggregated with a count, not range-joined row-by-row. */
  /** Slice count for one bucket: per-slice work is est_pairs/slices, so
    * ⌈est_pairs/pairsPerTask⌉ bounds per-task comparisons BY
    * CONSTRUCTION; the ⌈n/sliceRows⌉ term additionally bounds per-task
    * build-side rows. Pure function — unit-testable without a plan. */
  private[graft] def rangeSlices(n: Long, nNext: Long,
      sliceRows: Int, pairsPerTask: Long): Int = {
    val est = n * (n + nNext)
    math.max(1L, math.max((n + sliceRows - 1) / sliceRows,
      (est + pairsPerTask - 1) / pairsPerTask)).toInt
  }

  def bucketedRangePairs(
      ev: DataFrame,
      windowUs: Long,
      sliceRows: Int = 65536,
      maxBucketPairs: Long = 1000000000L,
      pairsPerTask: Long = 1L << 26): DataFrame = {
    val spark = ev.sparkSession
    import spark.implicits._
    val bkted = ev.select(unix_micros(col("ts")).as("us"), col("event_type").as("etype"))
      .withColumn("bkt", expr(s"us div $windowUs"))
    // occupancy: narrow columns, map-side partial agg, tiny result
    val occ = bkted.groupBy("bkt").agg(count(lit(1)).as("n"))
    val occNext = occ.select((col("bkt") - 1).as("bkt"), col("n").as("n_next"))
    val hot = occ.join(occNext, Seq("bkt"), "left")
      .select(col("bkt"), col("n"), coalesce(col("n_next"), lit(0L)).as("n_next"),
        (col("n") * (col("n") + coalesce(col("n_next"), lit(0L)))).as("est_pairs"))
      .filter(col("n") > sliceRows || col("est_pairs") > pairsPerTask ||
        col("est_pairs") > maxBucketPairs)
      .collect()
    hot.filter(_.getAs[Long]("est_pairs") > maxBucketPairs).sortBy(-_.getAs[Long]("est_pairs"))
      .headOption.foreach { r =>
        throw new IllegalStateException(
          s"bucketedRangePairs: bucket ${r.getLong(0)} holds ${r.getLong(1)} rows " +
            s"(~${r.getAs[Long]("est_pairs")} candidate pairs > cap $maxBucketPairs). The range " +
            "join on this data is effectively cartesian — widen windowUs, " +
            "pre-aggregate duplicate timestamps, or raise maxBucketPairs knowingly.")
      }
    val hotSlices = hot
      .map(r => (r.getLong(0),
        rangeSlices(r.getLong(1), r.getLong(2), sliceRows, pairsPerTask)))
      .toSeq.toDF("bkt", "slices")
    if (hot.nonEmpty) {
      // observable engagement (not just absence-of-failure): the skew
      // rehearsal greps for this line to prove the guard SPLIT a hot
      // bucket instead of letting it straggle or failing loudly
      val worst = hot.maxBy(_.getAs[Long]("est_pairs"))
      System.err.println(s"[graft] range-join guard engaged: ${hot.length} hot " +
        s"bucket(s), worst est_pairs=${worst.getAs[Long]("est_pairs")} " +
        s"split into ${rangeSlices(worst.getLong(1), worst.getLong(2), sliceRows, pairsPerTask)} slices")
    }
    val a = bkted.join(broadcast(hotSlices), Seq("bkt"), "left")
      .withColumn("slices", coalesce(col("slices"), lit(1)))
      .withColumn("slice", pmod(xxhash64(col("us"), col("etype")), col("slices")).cast("int"))
      .select(col("bkt"), col("slice"), col("us").as("a_us"), col("etype").as("a_type"))
    val b = bkted
      .select(col("us").as("b_us"), col("etype").as("b_type"),
        explode(array(col("bkt") - 1, col("bkt"))).as("bkt"))
      .join(broadcast(hotSlices), Seq("bkt"), "left")
      .withColumn("slices", coalesce(col("slices"), lit(1)))
      .withColumn("slice", explode(sequence(lit(0), col("slices") - 1)))
      .select(col("bkt"), col("slice"), col("b_us"), col("b_type"))
    a.join(b, Seq("bkt", "slice"))
      .filter(col("b_us") > col("a_us") && col("b_us") <= col("a_us") + windowUs)
      .select(col("a_us"), col("a_type"), col("b_us"), col("b_type"))
  }

  /** CDC-style merge (upsert): rows of `target` whose key appears in
    * `updates` are replaced; new keys are appended — the incremental
    * alternative to the reference's truncate-load (D3), and what a
    * periodically-refreshed 100 TB table actually runs. One anti-join
    * (broadcast when the update batch is small, the common case) + a
    * union — no full rewrite of unchanged data when the target is
    * partitioned and the writer prunes to touched partitions. */
  def mergeUpsert(target: DataFrame, updates: DataFrame, key: String): DataFrame =
    target.join(updates, Seq(key), "left_anti").unionByName(updates)

  /** Contiguous global row ids 0..n-1 in `order`-column order WITHOUT
    * the single-partition window (`row_number() OVER (ORDER BY …)` with
    * no PARTITION BY funnels 100 TB through one task — the canonical
    * Spark scale trap, and the exact shape WindowExec warns about).
    * Three-step two-phase form:
    *  1. range-repartition + in-partition sort on the order columns —
    *     partitions are globally ordered, rows locally ordered;
    *     localCheckpoint because two consumers follow (the count pass
    *     and the id pass must see the SAME partitioning);
    *  2. one row PER PARTITION (≤ a few thousand at any scale) comes to
    *     the driver to compute each partition's id offset — the bounded
    *     broadcast-artifact rule;
    *  3. a mapPartitions counter adds offset+local position — the
    *     genuine per-partition imperative case the DataFrame API has no
    *     expression for (`monotonically_increasing_id` is monotonic but
    *     NOT contiguous; `zipWithIndex` is the RDD-world spelling).
    * Output ids do not depend on where the range sampler lands the
    * bounds — any range split of a total order yields the same ids. */
  def contiguousIds(df: DataFrame, order: Seq[Column],
      idCol: String = "row_id"): DataFrame = {
    val sorted = df.repartitionByRange(order: _*)
      .sortWithinPartitions(order: _*)
      .localCheckpoint()
    val counts = sorted
      .groupBy(spark_partition_id().as("pid"))
      .agg(count(lit(1)).as("n"))
      .orderBy("pid")
      .collect() // bounded: one row per partition
      .map(r => (r.getInt(0), r.getLong(1)))
    val offsets: Map[Int, Long] =
      counts.scanLeft((0, 0L, 0L)) { case ((_, acc, _), (pid, n)) =>
        (pid, acc + n, acc)
      }.drop(1).map { case (pid, _, off) => pid -> off }.toMap
    val bc = sorted.sparkSession.sparkContext.broadcast(offsets)
    val schema = sorted.schema.add(idCol, LongType, nullable = false)
    sorted.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var next = bc.value.getOrElse(pid, 0L)
      it.map { r =>
        val out = org.apache.spark.sql.Row.fromSeq(r.toSeq :+ next)
        next += 1
        out
      }
    }(org.apache.spark.sql.Encoders.row(schema))
  }

  /** Per-shard token budget for [[q_shard_assign]]. */
  val ShardBudget: Long = 4096L

  /** Docs per padded batch for the length-bucketed batching gate. */
  val LengthBatchSize: Int = 32

  /** Distributed EXCLUSIVE prefix sums over a totally ordered frame —
    * the scalable form of `sum(w) OVER (ORDER BY … ROWS UNBOUNDED
    * PRECEDING AND 1 PRECEDING)` without serializing the corpus through
    * one partition: range-repartition + in-partition sort, ONE bounded
    * collect of per-partition totals (≤ #partitions rows), broadcast
    * offsets, then a narrow per-partition running accumulator. The
    * primitive behind size-balanced shard export, sequence packing and
    * curriculum byte budgeting. */
  def prefixSums(df: DataFrame, order: Seq[Column], w: Column,
      outCol: String = "cum_before"): DataFrame = {
    val sorted = df.withColumn("__w", w.cast(LongType))
      .repartitionByRange(order: _*)
      .sortWithinPartitions(order: _*)
      .localCheckpoint()
    val totals = sorted
      .groupBy(spark_partition_id().as("pid"))
      .agg(sum("__w").as("t"))
      .orderBy("pid")
      .collect() // bounded: one row per partition
      .map(r => (r.getInt(0), r.getLong(1)))
    val offsets: Map[Int, Long] =
      totals.scanLeft((0, 0L, 0L)) { case ((_, acc, _), (pid, t)) =>
        (pid, acc + t, acc)
      }.drop(1).map { case (pid, _, off) => pid -> off }.toMap
    val bc = sorted.sparkSession.sparkContext.broadcast(offsets)
    val base = sorted.drop("__w")
    val schema = base.schema.add(outCol, LongType, nullable = false)
    sorted.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var acc = bc.value.getOrElse(pid, 0L)
      it.map { r =>
        val wv = r.getLong(r.fieldIndex("__w"))
        val out = org.apache.spark.sql.Row.fromSeq(
          r.toSeq.dropRight(1) :+ acc)
        acc += wv
        out
      }
    }(org.apache.spark.sql.Encoders.row(schema))
  }

  /** Write the orders/lineitem join pair ONCE as co-bucketed tables
    * (8 buckets on the join key, bucket-sorted) — the layout decision
    * that turns every subsequent equi-join or aggregation on that key
    * into a SHUFFLE-FREE plan. At 100 TB this is the difference between
    * re-shuffling the fact table per query and paying the shuffle once
    * at ingest (the bucketing analog of ensureTermIndex's manual
    * directory buckets, but through Spark's own catalog so the OPTIMIZER
    * knows the layout and drops the Exchange). External-path tables
    * under the app scratch, name+path keyed by the corpus dir; mode
    * `ignore` + a catalog probe keep it idempotent per session. */
  def ensureBucketedPair(s: SparkSession, dir: String): (DataFrame, DataFrame) = graft.BuildTimer.time {
    val root = s.conf.getOption("graft.scratch").getOrElse("target/tmp")
    val tag = dir.replaceAll("[^0-9a-zA-Z]", "_")
    val base = s"$root/${s.sparkContext.applicationId}/bucketed"
    val oName = s"graft_bkt_orders_$tag"
    val lName = s"graft_bkt_lineitem_$tag"
    if (!s.catalog.tableExists(oName))
      orders(s, dir).select(col("o_orderkey"), col("o_orderstatus"))
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$base/$oName").mode("ignore").saveAsTable(oName)
    if (!s.catalog.tableExists(lName))
      lineitem(s, dir)
        .select(col("l_orderkey"), col("l_quantity").cast(Transforms.Money).as("qty"))
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$base/$lName").mode("ignore").saveAsTable(lName)
    (s.table(oName), s.table(lName))
  }

  // --- Z-order clustering + file-level skipping manifest ---------------

  /** Bit-spread of a non-negative 32-bit value into the even bit
    * positions of a 64-bit word — the classic Morton mask chain, pure
    * column arithmetic (whole-stage codegen, no UDF). */
  private def spreadBits(v: Column): Column = {
    val a = v.bitwiseAND(lit(0xFFFFFFFFL))
    val b = a.bitwiseOR(shiftleft(a, 16)).bitwiseAND(lit(0x0000FFFF0000FFFFL))
    val c = b.bitwiseOR(shiftleft(b, 8)).bitwiseAND(lit(0x00FF00FF00FF00FFL))
    val d = c.bitwiseOR(shiftleft(c, 4)).bitwiseAND(lit(0x0F0F0F0F0F0F0F0FL))
    val e = d.bitwiseOR(shiftleft(d, 2)).bitwiseAND(lit(0x3333333333333333L))
    e.bitwiseOR(shiftleft(e, 1)).bitwiseAND(lit(0x5555555555555555L))
  }

  /** 2-D Morton (Z-order) code: interleaves the low 32 bits of `x`
    * (even positions) and `y` (odd positions). Nearby (x, y) points get
    * nearby codes, so range-partitioning on the code clusters BOTH
    * dimensions at once — the layout that makes a 2-D range predicate
    * skippable at file granularity (the write-side analog of the
    * reference's secondary indexes, SURVEY §2.8 D2). */
  def zValue(x: Column, y: Column): Column =
    spreadBits(x).bitwiseOR(shiftleft(spreadBits(y), 1))

  /** Write `df` Z-order-clustered on (x, y) into `nFiles` range slices
    * of the Morton code. repartitionByRange gives each output file a
    * tight contiguous z-interval (≈ a small rectangle stack), so the
    * per-file (min, max) stats of BOTH dims are narrow — that is the
    * entire skipping win; an unclustered write has every file spanning
    * the whole key space and no predicate ever skips anything. */
  def zorderWrite(df: DataFrame, x: String, y: String, path: String,
      nFiles: Int): Unit =
    df.withColumn("__z", zValue(col(x), col(y)))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)

  /** Per-file (min, max, rows) manifest over the clustering dims — the
    * file-level skipping index consulted BEFORE any table I/O. One scan
    * at build time (at 100 TB this folds into the writer's task-commit
    * stats); one tiny parquet beside the table. Written AFTER the table
    * so its _SUCCESS is the generation marker (the ensureTermIndex
    * torn-build rule). */
  def writeSkipManifest(s: SparkSession, tablePath: String, x: String,
      y: String): Unit =
    s.read.parquet(tablePath)
      .groupBy(input_file_name().as("file"))
      .agg(min(x).as("min_x"), max(x).as("max_x"),
        min(y).as("min_y"), max(y).as("max_y"),
        count(lit(1)).as("n_rows"))
      .coalesce(1)
      .write.mode("overwrite").parquet(tablePath + "_manifest")

  /** Manifest-pruned read: keep only files whose (min, max) envelope
    * intersects the query rectangle, then apply the exact predicate to
    * the surviving rows. Returns (result, files read, files total) so
    * callers (and the spec) can see the skip rate. The manifest filter
    * is itself a Spark job over the tiny manifest; the driver collects
    * only the SURVIVING file names (bounded by the match, not the
    * table). Correctness never depends on the clustering: a file the
    * envelope admits but the predicate empties just contributes zero
    * rows — the manifest only ever REMOVES provably-empty I/O. */
  def skipRead(s: SparkSession, tablePath: String, x: String, y: String,
      xLo: Long, xHi: Long, yLo: Long, yHi: Long): (DataFrame, Long, Long) = {
    val m = s.read.parquet(tablePath + "_manifest").localCheckpoint()
    val files = m
      .filter(col("max_x") >= xLo && col("min_x") <= xHi &&
        col("max_y") >= yLo && col("min_y") <= yHi)
      .select("file").collect().map(_.getString(0))
    val pred = col(x).between(xLo, xHi) && col(y).between(yLo, yHi)
    val res =
      if (files.isEmpty) s.read.parquet(tablePath).where(lit(false))
      else s.read.parquet(files.toSeq: _*).filter(pred)
    (res, files.length.toLong, m.count())
  }

  /** The Z-ordered lineitem projection (l_orderkey, l_partkey,
    * l_linenumber) + its skip manifest, materialized once per
    * (app, corpus) behind the manifest's _SUCCESS marker. */
  def ensureZorderedLineitem(s: SparkSession, dir: String): String = graft.BuildTimer.time {
    val root = s.conf.getOption("graft.scratch").getOrElse("target/tmp")
    val tag = dir.replaceAll("[^0-9a-zA-Z]", "_")
    val path = s"$root/${s.sparkContext.applicationId}/zorder_lineitem_$tag"
    val marker = new org.apache.hadoop.fs.Path(tablePathManifest(path), "_SUCCESS")
    val fs = marker.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) {
      zorderWrite(
        lineitem(s, dir).select("l_orderkey", "l_partkey", "l_linenumber"),
        "l_orderkey", "l_partkey", path, nFiles = 16)
      writeSkipManifest(s, path, "l_orderkey", "l_partkey")
    }
    path
  }

  private def tablePathManifest(tablePath: String): String =
    tablePath + "_manifest"
}
