package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.operators.Events
import graft.operators.Ingest.{DocGen, Tombstones}
import graft.streaming.EventStream

/** Streaming/batch equivalence: the Structured Streaming pipelines must
  * produce exactly the batch twins' results when replayed with
  * Trigger.AvailableNow (same windows, same session rule). */
class EventStreamSpec extends SparkSpecBase {

  test("events reader decodes ABSOLUTE time sanely (>= 25-day span, modern year)") {
    // Deliberate environment-drift canary (VERDICT r6 #1): every other
    // event spec compares streaming vs batch THROUGH THE SAME READER, so
    // a physical-encoding change in the driver's parquet (nanos→micros
    // between r5 and r6) silently corrupted both sides at once. This
    // test pins the one fact no relative comparison can: the decoded
    // corpus spans real calendar time.
    val r = graft.queries.Tables.events(spark, TestSpark.Sf0001)
      .agg(min(col("ts")).as("lo"), max(col("ts")).as("hi")).head()
    val (lo, hi) = (r.getTimestamp(0), r.getTimestamp(1))
    val year = lo.toInstant.atZone(java.time.ZoneOffset.UTC).getYear
    assert(year >= 2020 && year <= 2100,
      s"decoded min(ts)=$lo — timestamp unit drift (the r6 failure mode)")
    val spanDays = (hi.getTime - lo.getTime) / 86400000.0
    assert(spanDays >= 25.0,
      s"events span $spanDays days ($lo .. $hi) — expected a ~30-day corpus")
  }

  test("events reader sniffs bare-INT64 ts units (nanos vs micros) from the footer") {
    import testImplicits._
    // the branch the current testdata no longer exercises: a producer
    // writing ts as a plain INT64 with no logical type. One sampled
    // value decides the unit (epoch-nanos vs epoch-micros differ by 3
    // orders of magnitude for any modern instant).
    val instantUs = 1704067200000000L // 2024-01-01T00:00:00Z in micros
    def write(dir: String, unitFactor: Long): String = {
      val path = java.nio.file.Files.createTempDirectory(dir).toString
      Seq((1L, instantUs * unitFactor, 7L, "click", 1.0, "{}"),
          (2L, (instantUs + 60000000L) * unitFactor, 8L, "view", 2.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"$path/events.parquet")
      path
    }
    for ((factor, label) <- Seq((1L, "micros"), (1000L, "nanos"))) {
      val dir = write(s"graft_ts_$label", factor)
      val ts = graft.queries.Tables.events(spark, dir)
        .orderBy("event_id").select("ts").collect().map(_.getTimestamp(0))
      assert(ts.head.toInstant.toEpochMilli == instantUs / 1000,
        s"$label: decoded ${ts.head}")
      assert(ts(1).toInstant.toEpochMilli == instantUs / 1000 + 60000,
        s"$label: decoded ${ts(1)}")
    }
  }

  test("windowedAgg (streaming, AvailableNow) == q_events_window (batch)") {
    val stream = EventStream.windowedAgg(
      EventStream.readEvents(spark, TestSpark.Sf0001))
    val q = EventStream.runToMemory(stream, "win_test", OutputMode.Complete)
    q.awaitTermination()
    val streamed = spark.table("win_test")
      .orderBy("h", "event_type").collect().map(_.toSeq).toSeq
    val batch = Events.queries("q_events_window")(spark, TestSpark.Sf0001)
      .collect().map(_.toSeq).toSeq
    assert(streamed == batch)
  }

  test("enriched (stream-static left join, Append) == batch join row set") {
    import org.apache.spark.sql.functions._
    val dim = graft.queries.Tables.customer(spark, TestSpark.Sf0001)
    val stream = EventStream.enriched(
      EventStream.readEvents(spark, TestSpark.Sf0001), dim)
    val q = EventStream.runToMemory(stream, "enrich_test", OutputMode.Append)
    q.awaitTermination()
    val streamed = spark.table("enrich_test")
      .orderBy("event_id").collect().map(_.toSeq).toSeq
    val batch = EventStream.enriched(
        graft.queries.Tables.events(spark, TestSpark.Sf0001), dim)
      .orderBy("event_id").collect().map(_.toSeq).toSeq
    assert(streamed == batch && streamed.nonEmpty)
    // the aggregate over the same join is the oracle-gated batch twin
    val agg = Events.queries("q_enrich_events")(spark, TestSpark.Sf0001)
      .agg(sum("n_events")).collect().head.getLong(0)
    assert(agg == streamed.size)
  }

  test("streaming media hash ingest (MediaStream) == batch delta; streamed rows SERVE the append gates") {
    val stream = graft.streaming.MediaStream.mediaHashStream(spark, TestSpark.Sf0001)
    val q = EventStream.runToMemory(stream, "media_ingest_test", OutputMode.Append)
    q.awaitTermination()
    val cols = Seq("media_id", "src_id", "modality", "mime", "pos", "phash", "ok")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(cols.map(col): _*).orderBy("media_id", "pos")
        .collect().map(_.toSeq).toSeq
    val streamedTable = spark.table("media_ingest_test")
    val streamed = canon(streamedTable)
    val batch = canon(graft.operators.Multimodal.deltaHashKernel(
      graft.queries.Tables.documents(spark, TestSpark.Sf0001)))
    assert(streamed.nonEmpty && streamed == batch,
      "per-micro-batch decode+hash must equal the batch delta build row-for-row")
    assert(streamed.map(_(2)).toSet == Set("image", "video", "audio"),
      s"the stream must carry all three modalities: ${streamed.map(_(2)).toSet}")
    // and the STREAMED rows serve dedup: base ∪ streamed-delta through
    // the same pair/cluster machinery equals the stored-delta gates
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    val withStreamed = graft.operators.Multimodal
      .ensureMediaHashIndex(spark, TestSpark.Sf0001)
      .unionByName(streamedTable.select(cols.map(col): _*))
    val vServed = rows(graft.operators.Multimodal.videoDedup(withStreamed))
    val vStored = rows(SparkEntry.queries("q_video_dedup_append")(
      spark, TestSpark.Sf0001))
    assert(vServed.nonEmpty && vServed == vStored,
      "stream-landed video re-encodes must serve exactly like the stored delta generation")
    val aServed = rows(graft.operators.Multimodal.audioDedup(withStreamed))
    val aStored = rows(SparkEntry.queries("q_audio_dedup_append")(
      spark, TestSpark.Sf0001))
    assert(aServed.nonEmpty && aServed == aStored,
      "stream-landed audio copies must serve exactly like the stored delta generation")
  }

  test("streaming sketch ingest (SketchStream) == batch stored-sketch table") {
    val stream = graft.streaming.SketchStream.sketchStream(spark, TestSpark.Sf0001)
    val q = EventStream.runToMemory(stream, "sketch_ingest_test", OutputMode.Append)
    q.awaitTermination()
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "sig", "simhash").orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2))).toSeq
    val streamed = canon(spark.table("sketch_ingest_test"))
    val batch = canon(graft.operators.Ingest.ensureSketchedDocs(spark, TestSpark.Sf0001))
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming histogram build (HistStream, Complete) == batch histBuild cells") {
    val stream = graft.streaming.HistStream.histStream(spark, TestSpark.Sf0001)
    val q = EventStream.runToMemory(stream, "hist_stream_test", OutputMode.Complete)
    q.awaitTermination()
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("shard", "bucket", "n").orderBy("shard", "bucket")
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    val streamed = canon(spark.table("hist_stream_test"))
    val batch = canon(graft.operators.CorpusStats.histBuild(
      graft.queries.Tables.documents(spark, TestSpark.Sf0001)))
    assert(streamed.nonEmpty && streamed == batch)
    // the streamed cells alone must reproduce the corpus row count —
    // the property any quantile cut over the artifact depends on
    val total = streamed.map(_._3).sum
    val docs = graft.queries.Tables.documents(spark, TestSpark.Sf0001).count()
    assert(total == docs)
  }

  test("streamed takedown reaches the stats axis: tombstoned ids subtract from the stored CMS") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stats_forget").toString
    import testImplicits._
    val schema = Seq(0L).toDF("doc_id").schema
    // the retraction fixture arrives THROUGH the streamed front door
    graft.queries.Tables.documents(spark, TestSpark.Sf0001)
      .filter(col("doc_id") % graft.operators.Ingest.ForgetMod ===
        graft.operators.Ingest.ForgetRem)
      .select("doc_id")
      .write.mode("append").parquet(s"$dir/landing")
    graft.streaming.ForgetStream.tombstoneStream(
      spark, s"$dir/landing", schema, s"$dir/tomb", s"$dir/ckpt")
      .awaitTermination()
    val dead = spark.read.parquet(s"$dir/tomb")
    val streamed = graft.operators.CorpusStats.cmsServed(spark, TestSpark.Sf0001,
        DocGen.Masked(Tombstones.Supplied(dead)))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq.sorted
    val artifact = graft.operators.CorpusStats.cmsServed(spark, TestSpark.Sf0001,
        DocGen.Masked(Tombstones.Stored))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq.sorted
    assert(streamed == artifact,
      "stream-accumulated retraction must subtract exactly like the stored retraction sketch")
  }

  test("tombstone compaction: one distinct generation, serving unchanged, batch dirs dropped") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tomb_compact").toString
    import testImplicits._
    val schema = Seq(0L).toDF("doc_id").schema
    def runOnce(): Unit = {
      graft.streaming.ForgetStream.tombstoneStream(
        spark, s"$dir/landing", schema, s"$dir/tomb", s"$dir/ckpt")
        .awaitTermination()
    }
    // three triggers, with id 7 retracted TWICE (duplicates are
    // semantically free pre-compaction and must collapse after)
    Seq(7L).toDF("doc_id").write.mode("append").parquet(s"$dir/landing")
    runOnce()
    Seq(20L, 7L).toDF("doc_id").write.mode("append").parquet(s"$dir/landing")
    runOnce()
    val before = graft.streaming.ForgetStream.tombstoneIds(spark, s"$dir/tomb")
      .collect().map(_.getLong(0)).toSeq
    assert(before.sorted == Seq(7L, 7L, 20L),
      s"pre-compaction layout holds raw batches incl. the duplicate: $before")
    graft.streaming.ForgetStream.compactTombstones(spark, s"$dir/tomb")
    val after = graft.streaming.ForgetStream.tombstoneIds(spark, s"$dir/tomb")
      .collect().map(_.getLong(0)).toSeq
    assert(after.sorted == Seq(7L, 20L),
      s"compaction must collapse duplicates and lose nothing: $after")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(Option(fs.globStatus(
      new org.apache.hadoop.fs.Path(s"$dir/tomb/batch=*"))).forall(_.isEmpty),
      "old batch dirs must be gone after the generation commits")
    // a compaction over an already-compacted dir plus new arrivals
    // unions both layouts and stays exact
    Seq(33L).toDF("doc_id").write.mode("append").parquet(s"$dir/landing")
    runOnce()
    graft.streaming.ForgetStream.compactTombstones(spark, s"$dir/tomb")
    val again = graft.streaming.ForgetStream.tombstoneIds(spark, s"$dir/tomb")
      .collect().map(_.getLong(0)).toSeq
    assert(again.sorted == Seq(7L, 20L, 33L),
      s"re-compaction with new arrivals must merge generations: $again")
    // compacting with nothing new accumulated is a safe no-op
    graft.streaming.ForgetStream.compactTombstones(spark, s"$dir/tomb")
    assert(graft.streaming.ForgetStream.tombstoneIds(spark, s"$dir/tomb")
      .collect().map(_.getLong(0)).toSeq.sorted == Seq(7L, 20L, 33L),
      "an idle compaction must not disturb the generation")
  }

  test("size-triggered compaction trips MID-STREAM; concurrent readers never torn") {
    // VERDICT r14 #8: the last manual LSM step goes continuous — the
    // ingest loop itself compacts when the committed batch-dir count
    // reaches the threshold. One AvailableNow run over four landing
    // files (maxFilesPerTrigger=1 in auto-compact mode → four
    // micro-batches) must trip compaction inside the run, while a
    // listener-driven reader exercising tombstoneIds after every
    // micro-batch observes a parseable, monotonically growing set.
    val dir = java.nio.file.Files.createTempDirectory("graft_tomb_auto").toString
    import testImplicits._
    val schema = Seq(0L).toDF("doc_id").schema
    for (id <- Seq(7L, 20L, 33L, 46L)) // 4 part files → 4 micro-batches
      Seq(id).toDF("doc_id").coalesce(1)
        .write.mode("append").parquet(s"$dir/landing")
    val observed = new java.util.concurrent.CopyOnWriteArrayList[Long]()
    val torn = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        try observed.add(graft.streaming.ForgetStream
          .tombstoneIds(spark, s"$dir/tomb").distinct().count())
        catch { case t: Throwable => torn.add(t.toString); () }
    }
    spark.streams.addListener(listener)
    try {
      graft.streaming.ForgetStream.tombstoneStream(
        spark, s"$dir/landing", schema, s"$dir/tomb", s"$dir/ckpt",
        compactAtBatches = 2).awaitTermination()
      // drain the async listener bus before reading its records
      spark.streams.active.foreach(_.processAllAvailable())
      Thread.sleep(500)
    } finally spark.streams.removeListener(listener)
    assert(torn.isEmpty, s"a concurrent reader observed a torn layout: $torn")
    val counts = scala.jdk.CollectionConverters
      .CollectionHasAsScala(observed).asScala.toSeq
    assert(counts.nonEmpty, "listener captured no micro-batch progress")
    assert(counts == counts.sorted,
      s"concurrent reads must grow monotonically: $counts")
    // the threshold (2) must have tripped inside the run: a committed
    // generation exists and the batch backlog is below the threshold
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gens = Option(fs.globStatus(
      new org.apache.hadoop.fs.Path(s"$dir/tomb/gen=*"))).getOrElse(Array.empty)
    assert(gens.nonEmpty, "no generation committed: the trigger never fired")
    val leftover = Option(fs.globStatus(
      new org.apache.hadoop.fs.Path(s"$dir/tomb/batch=*"))).getOrElse(Array.empty)
    assert(leftover.length < 2,
      s"batch backlog ${leftover.length} not folded by the in-loop trigger")
    // and the served set is exact — nothing lost, duplicates collapsed
    val ids = graft.streaming.ForgetStream.tombstoneIds(spark, s"$dir/tomb")
      .distinct().collect().map(_.getLong(0)).toSeq.sorted
    assert(ids == Seq(7L, 20L, 33L, 46L), s"served tombstones: $ids")
  }

  test("tombstone compaction survives a torn flip: no crash point loses a retraction") {
    // the r12 ADVICE finding: delete(gen)+rename(gen.next) had a window
    // where neither layout existed — retracted ids came back. The
    // numbered-generation rewrite must hold the set exact at EVERY
    // crash point, simulated here by hand-building the on-disk states.
    val dir = java.nio.file.Files.createTempDirectory("graft_tomb_torn").toString
    val tomb = s"$dir/tomb"
    import testImplicits._
    def ids(): Seq[Long] = graft.streaming.ForgetStream
      .tombstoneIds(spark, tomb).collect().map(_.getLong(0)).toSeq.sorted
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(7L).toDF("doc_id").write.parquet(s"$tomb/batch=0")
    Seq(20L).toDF("doc_id").write.parquet(s"$tomb/batch=1")
    graft.streaming.ForgetStream.compactTombstones(spark, tomb)
    assert(ids() == Seq(7L, 20L), "baseline compaction")
    // crash point A — mid-write of the next generation (no _SUCCESS):
    // an uncommitted generation must be INVISIBLE to readers
    Seq(33L).toDF("doc_id").write.parquet(s"$tomb/batch=2")
    Seq(7L, 20L, 33L).toDF("doc_id").write.parquet(s"$tomb/gen=2")
    fs.delete(new org.apache.hadoop.fs.Path(s"$tomb/gen=2/_SUCCESS"), false)
    assert(ids() == Seq(7L, 20L, 33L),
      "uncommitted generation ignored; batches still carry 33")
    // crash point B — committed gen=2 but cleanup never ran: the
    // HIGHEST committed generation wins, stale batch/gen are harmless
    fs.delete(new org.apache.hadoop.fs.Path(s"$tomb/gen=2"), true)
    Seq(7L, 20L, 33L).toDF("doc_id").write.parquet(s"$tomb/gen=2")
    // 33 rides in BOTH the stale batch and the committed generation —
    // duplicates are semantically free for the anti-join mask
    assert(ids().distinct == Seq(7L, 20L, 33L),
      "post-commit pre-cleanup state: union of gen=2 and stale batch stays exact")
    // recovery — the next compaction folds the leftovers and GCs every
    // superseded path, converging back to one generation
    graft.streaming.ForgetStream.compactTombstones(spark, tomb)
    assert(ids() == Seq(7L, 20L, 33L), "recovery compaction keeps the set")
    assert(Option(fs.globStatus(
      new org.apache.hadoop.fs.Path(s"$tomb/batch=*"))).forall(_.isEmpty),
      "leftover batches GC'd")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$tomb/gen=1")) &&
      !fs.exists(new org.apache.hadoop.fs.Path(s"$tomb/gen=2")),
      "superseded generations GC'd")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$tomb/gen=3/_SUCCESS")),
      "recovery writes the next numbered generation")
  }

  test("tombstone reader vs mid-write trigger: a partial batch neither throws nor loses committed ids") {
    // r13 verdict #4 / ADVICE: tombstoneIds read every batch=* dir while
    // compactTombstones filtered on _SUCCESS — an asymmetric commit
    // protocol, and a reader concurrent with a mid-write trigger could
    // hit a partially-written parquet file and throw. Hand-build the
    // mid-write state: a batch dir holding a TORN part file (truncated
    // parquet — no magic footer) and no _SUCCESS marker.
    val dir = java.nio.file.Files.createTempDirectory("graft_tomb_partial").toString
    val tomb = s"$dir/tomb"
    import testImplicits._
    Seq(7L, 20L).toDF("doc_id").write.parquet(s"$tomb/batch=0")
    val partial = new java.io.File(s"$tomb/batch=1")
    assert(partial.mkdirs())
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$tomb/batch=1/part-00000.snappy.parquet"),
      Array[Byte]('P', 'A', 'R', '1', 0, 13, 37)) // torn mid-flush
    def ids(): Seq[Long] = graft.streaming.ForgetStream
      .tombstoneIds(spark, tomb).collect().map(_.getLong(0)).toSeq.sorted
    assert(ids() == Seq(7L, 20L),
      "committed ids served; the uncommitted batch is not-yet-arrived, not an error")
    // the compactor applies the same protocol: the partial batch rides
    graft.streaming.ForgetStream.compactTombstones(spark, tomb)
    assert(ids() == Seq(7L, 20L), "compaction ignores the partial batch")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$tomb/batch=1")),
      "the mid-write batch must survive compaction untouched")
    // once its _SUCCESS lands (the trigger finishing), the ids appear
    Seq(33L).toDF("doc_id").write.mode("overwrite").parquet(s"$tomb/batch=1")
    assert(ids() == Seq(7L, 20L, 33L), "the finished trigger's ids arrive")
  }

  test("a batch-free compaction still GCs superseded generations left by a crash") {
    // r14 ADVICE: a crash between gen-commit and cleanup leaves stale
    // generations; with no new retraction arriving, the early return
    // never converged the layout back to one generation
    val dir = java.nio.file.Files.createTempDirectory("graft_tomb_gc").toString
    val tomb = s"$dir/tomb"
    import testImplicits._
    Seq(7L).toDF("doc_id").write.parquet(s"$tomb/gen=1")
    Seq(7L, 20L).toDF("doc_id").write.parquet(s"$tomb/gen=2")
    def ids(): Seq[Long] = graft.streaming.ForgetStream
      .tombstoneIds(spark, tomb).collect().map(_.getLong(0)).toSeq.sorted
    assert(ids() == Seq(7L, 20L), "highest committed generation serves")
    graft.streaming.ForgetStream.compactTombstones(spark, tomb)
    assert(ids() == Seq(7L, 20L), "idle GC must not disturb the set")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$tomb/gen=1")),
      "the superseded generation is GC'd without waiting for a new retraction")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$tomb/gen=2/_SUCCESS")),
      "the live generation survives")
  }

  test("streamed takedown (ForgetStream): accumulated tombstones mask BM25 serving") {
    val dir = java.nio.file.Files.createTempDirectory("graft_forget_stream").toString
    val terms = Seq("table", "scan", "join")
    val top = graft.operators.Ingest.bm25TopKStored(spark, TestSpark.Sf0001, terms, 10)
      .collect().map(_.getLong(0)).toSeq
    import testImplicits._
    val schema = Seq(0L).toDF("doc_id").schema
    def runOnce(): Unit = {
      val q = graft.streaming.ForgetStream.tombstoneStream(
        spark, s"$dir/landing", schema, s"$dir/tomb", s"$dir/ckpt")
      q.awaitTermination()
    }
    // two separate retraction requests arrive across two triggers; the
    // checkpoint makes the second run process ONLY the new file
    Seq(top(0)).toDF("doc_id").write.mode("append").parquet(s"$dir/landing")
    runOnce()
    Seq(top(1)).toDF("doc_id").write.mode("append").parquet(s"$dir/landing")
    runOnce()
    val dead = spark.read.parquet(s"$dir/tomb").select("doc_id")
    assert(dead.collect().map(_.getLong(0)).toSet == Set(top(0), top(1)),
      "both retraction batches must have accumulated in the tombstone dir")
    import graft.operators.Ingest.{DocGen, Tombstones}
    val served = graft.operators.Ingest.bm25Served(spark, TestSpark.Sf0001,
        DocGen.Masked(Tombstones.Supplied(dead)), terms, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(served.nonEmpty &&
      !served.exists(r => r._1 == top(0) || r._1 == top(1)),
      "a streamed-retracted doc surfaced from the masked serve")
    // streamed-accumulated tombstones ≡ the same ids passed as a batch
    val batchMask = graft.operators.Ingest.bm25Served(spark, TestSpark.Sf0001,
        DocGen.Masked(Tombstones.Supplied(Seq(top(0), top(1)).toDF("doc_id"))),
        terms, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(served == batchMask,
      "streamed tombstone accumulation must serve exactly like a batch mask")

    // the purge TRIGGER wired behind the stream: the policy reads the
    // accumulated takedown directory, compares the dead fraction to θ,
    // and must (a) keep the masked snapshot below θ, (b) trip the
    // generation rewrite above θ, (c) serve identical rows either way
    val frac = dead.distinct().count().toDouble /
      graft.queries.Tables.documents(spark, TestSpark.Sf0001).count()
    val (maskDf, maskPurged) = graft.operators.Ingest.bm25PolicyServed(spark,
      TestSpark.Sf0001, Tombstones.Supplied(dead), terms, 10, theta = frac * 10)
    val (purgeDf, purgePurged) = graft.operators.Ingest.bm25PolicyServed(spark,
      TestSpark.Sf0001, Tombstones.Supplied(dead), terms, 10, theta = frac / 2)
    assert(!maskPurged, "dead fraction below θ must keep serving masked")
    assert(purgePurged, "dead fraction above θ must trip the purge")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rows(maskDf) == served && rows(purgeDf) == served,
      "both policy arms must serve the streamed-takedown state exactly")
  }

  test("streamed takedown on the DENSE axis: accumulated vec tombstones mask kNN serving") {
    // the same append-only front door, retracting VECTORS: ids land as
    // files, accumulate across triggers, and feed knnJoinSides' dead
    // hook — the exact serving shape q_knn_ivf_forget certifies, with
    // the tombstone set arriving via a stream instead of the artifact
    val dir = java.nio.file.Files.createTempDirectory("graft_vec_forget").toString
    import testImplicits._
    val emb = graft.queries.Tables.embeddings(spark, TestSpark.Sf0001)
    val qs = emb.orderBy("vec_id").limit(2)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      .localCheckpoint()
    val baseline = graft.operators.Ingest.knnJoinIvfStored(
        spark, TestSpark.Sf0001, qs, 5)
      .select("q_id", "rnk", "vec_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // retract each query's top hit, one request per trigger
    val victims = baseline.filter(_._2 == 1).map(_._3).toSeq.distinct
    val schema = Seq(0L).toDF("doc_id").schema
    victims.zipWithIndex.foreach { case (v, i) =>
      Seq(v).toDF("doc_id").write.mode("append").parquet(s"$dir/landing")
      val q = graft.streaming.ForgetStream.tombstoneStream(
        spark, s"$dir/landing", schema, s"$dir/tomb", s"$dir/ckpt")
      q.awaitTermination()
    }
    val dead = spark.read.parquet(s"$dir/tomb")
      .select(col("doc_id").as("vec_id"))
    assert(dead.count() == victims.size)
    val (centroids, assign) =
      graft.operators.Ingest.ensureIvfIndex(spark, TestSpark.Sf0001)
    val masked = graft.operators.Ingest.knnJoinSides(spark,
        TestSpark.Sf0001, Seq(assign), centroids, qs, 5, nProbe = 0,
        dead = Some(dead))
      .select("q_id", "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(victims.forall(v => !masked.exists(_._2 == v)),
      "a streamed-retracted vector surfaced from the masked kNN serve")
    assert(masked.nonEmpty && masked.size == baseline.size,
      "each query must backfill to k survivors after the retraction")
  }

  test("streamed takedown propagates to EVERY axis: ForgetStream ids drive the composed e2e serve") {
    // the q_takedown_e2e composition fed from the streamed front door:
    // the SAME fixture ids land via ForgetStream batches (split in two
    // triggers, one duplicated — the anti-join is duplicate-free), and
    // the composed per-axis fingerprint frame must equal the
    // stored-artifact gate row for row across every axis row.
    val dir = java.nio.file.Files.createTempDirectory("graft_takedown_e2e").toString
    import testImplicits._
    val fixture = graft.operators.Ingest
      .ensureForgetSet(spark, TestSpark.Sf0001)._1
      .collect().map(_.getLong(0)).sorted
    assert(fixture.length >= 3, "fixture retraction set too small to split")
    val (a, b) = fixture.splitAt(fixture.length / 2)
    val schema = Seq(0L).toDF("doc_id").schema
    Seq(a, b :+ a.head).foreach { batch => // a.head retracted TWICE
      batch.toSeq.toDF("doc_id").write.mode("append")
        .parquet(s"$dir/landing")
      graft.streaming.ForgetStream.tombstoneStream(
        spark, s"$dir/landing", schema, s"$dir/tomb", s"$dir/ckpt")
        .awaitTermination()
    }
    val streamed = graft.operators.Ingest.takedownE2eWith(spark,
      TestSpark.Sf0001,
      graft.streaming.ForgetStream.tombstoneIds(spark, s"$dir/tomb"))
      .collect().map(_.toSeq).toSeq
    val stored = graft.operators.Ingest.takedownE2e(spark, TestSpark.Sf0001)
      .collect().map(_.toSeq).toSeq
    assert(streamed == stored,
      s"streamed takedown diverged from the stored-fixture serve:\n$streamed\n$stored")
    assert(stored.map(_.head) == Seq("bm25", "cms", "dense", "media",
      "model", "phrase", "quantized_pq", "quantized_sq", "sketch"),
      s"axis rows: $stored")
  }

  test("streamed media takedown ≡ batch on ALL three media surfaces, derived assets included") {
    // r13 verdict #5: the MEDIA axis gets the streaming ≡ batch pin by
    // name — the src-keyed Masked generation over a ForgetStream-
    // accumulated set, including a DUPLICATE retraction of a doc that
    // carries derived assets (every %20 doc is %4==0, so it ships a
    // shifted video re-encode; its image/audio/video rows AND the
    // re-encode must all fall)
    val dir = java.nio.file.Files.createTempDirectory("graft_media_takedown").toString
    import testImplicits._
    val fixture = graft.operators.Multimodal
      .ensureMediaForgetSet(spark, TestSpark.Sf0001)
      .collect().map(_.getLong(0)).sorted
    assert(fixture.length >= 3, "media retraction fixture too small to split")
    // the duplicated retraction is a doc with a planted video re-encode
    val withDerived = fixture.find(_ % graft.operators.Multimodal.VideoDupMod == 0)
      .getOrElse(fail("no retracted doc with a video re-encode in the fixture"))
    val (a, b) = fixture.splitAt(fixture.length / 2)
    val schema = Seq(0L).toDF("doc_id").schema
    Seq(a, b :+ withDerived).foreach { batch =>
      batch.toSeq.toDF("doc_id").write.mode("append").parquet(s"$dir/landing")
      graft.streaming.ForgetStream.tombstoneStream(
        spark, s"$dir/landing", schema, s"$dir/tomb", s"$dir/ckpt")
        .awaitTermination()
    }
    val streamedSet = graft.streaming.ForgetStream
      .tombstoneIds(spark, s"$dir/tomb")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.collect().map(_.toSeq).toSeq
    val fx = graft.operators.Multimodal
      .ensureMediaForgetSet(spark, TestSpark.Sf0001)
      .select(col("media_id").as("doc_id"))
    import graft.operators.Multimodal.{audioDedup, imageDedup, mediaServed, videoDedup}
    def masked(dead: org.apache.spark.sql.DataFrame) =
      mediaServed(spark, TestSpark.Sf0001, DocGen.Masked(Tombstones.Supplied(dead)))
    for ((name, serve) <- Seq[(String,
        org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
      ("image", d => imageDedup(masked(d))),
      ("video", d => videoDedup(masked(d))),
      ("audio", d => audioDedup(masked(d))))) {
      val streamed = rows(serve(streamedSet))
      val batch = rows(serve(fx))
      assert(streamed.nonEmpty && streamed == batch,
        s"$name surface: streamed tombstones must serve exactly like the batch fixture")
    }
    // the derived-asset kill is visible, not vacuous: the retracted
    // doc's re-encode identity appears in NO surviving video pair
    val copyId = withDerived + graft.operators.Multimodal.VideoDupOffset
    val survivors = rows(videoDedup(masked(streamedSet)))
      .flatMap(r => Seq(r(0), r(1)))
    assert(!survivors.contains(withDerived) && !survivors.contains(copyId),
      s"retracted doc $withDerived or its re-encode $copyId survived the streamed mask")
  }

  test("streaming LM scoring (LmStream) == batch stateless scorer") {
    val stream = graft.streaming.LmStream.lmScoreStream(spark, TestSpark.Sf0001)
    val q = EventStream.runToMemory(stream, "lm_stream_test", OutputMode.Append)
    q.awaitTermination()
    val streamed = spark.table("lm_stream_test")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val batch = graft.SparkEntry.queries("q_lm_stateless")(spark, TestSpark.Sf0001)
      .collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming DSIR selection (DsirStream) == batch weights, frozen threshold") {
    val stream = graft.streaming.DsirStream.dsirStream(spark, TestSpark.Sf0001)
    val q = EventStream.runToMemory(stream, "dsir_stream_test", OutputMode.Append)
    q.awaitTermination()
    val streamed = spark.table("dsir_stream_test")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val batch = graft.SparkEntry.queries("q_dsir_weights")(spark, TestSpark.Sf0001)
      .collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming classifier serving (NbStream) == batch nbClassify, frozen model") {
    val stream = graft.streaming.NbStream.nbStream(spark, TestSpark.Sf0001)
    val q = EventStream.runToMemory(stream, "nb_stream_test", OutputMode.Append)
    q.awaitTermination()
    val streamed = spark.table("nb_stream_test")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val batch = graft.SparkEntry.queries("q_nb_classify")(spark, TestSpark.Sf0001)
      .collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty && streamed == batch,
      "stateless frozen-model scoring must equal the trained batch path row-for-row")
  }

  test("streaming incremental scoring (ScoreStream) == batch IVM, row-for-row") {
    val stream = graft.streaming.ScoreStream.incrementalStream(spark, TestSpark.Sf0001)
    val q = EventStream.runToMemory(stream, "score_stream_test", OutputMode.Append)
    q.awaitTermination()
    val streamed = spark.table("score_stream_test")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val batch = graft.operators.Curation.incrementalScores(spark, TestSpark.Sf0001)
      .collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty && streamed == batch)
    // the stream really exercised both provenance branches
    val srcs = streamed.map(_(2)).toSet
    assert(srcs == Set("stored", "fresh"), s"branches seen: $srcs")
  }

  test("streaming BM25 scoring (Bm25Stream) top-k == batch bm25TopK") {
    val stream = graft.streaming.Bm25Stream.bm25Stream(
      spark, TestSpark.Sf0001, Seq("table", "scan", "join"))
    val q = EventStream.runToMemory(stream, "bm25_stream_test", OutputMode.Append)
    q.awaitTermination()
    // the streamed per-doc scores, cut to their own top-10, must equal
    // the batch operator's list value-for-value (zero-scoring docs can
    // never enter the batch list: a doc without any query term has no
    // tf rows there, and BM25 scores are strictly positive otherwise)
    val streamed = spark.table("bm25_stream_test")
      .filter(col("score") > 0)
      .orderBy(desc("score"), asc("doc_id")).limit(10)
      .collect().map(_.toSeq).toSeq
    val batch = graft.operators.TextAnalysis.bm25TopK(
        graft.queries.Tables.documents(spark, TestSpark.Sf0001),
        Seq("table", "scan", "join"), 10)
      .collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming PQ code ingest (PqStream) == batch encode, same codebook") {
    val emb = spark.read.parquet(TestSpark.Sf0001 + "/embeddings.parquet")
    val (cb, _, _) = graft.operators.Similarity.pqTrain(emb, 8, 256)
    val stream = graft.streaming.PqStream.codeStream(spark, TestSpark.Sf0001, cb)
    val q = EventStream.runToMemory(stream, "pq_stream_test", OutputMode.Append)
    q.awaitTermination()
    val streamed = spark.table("pq_stream_test")
      .orderBy("vec_id").collect().map(_.toSeq).toSeq
    val batch = emb.select(col("vec_id"),
        graft.functions.PqOps.encode(col("embedding"), cb, 8, 256).as("code"))
      .orderBy("vec_id").collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming SQ8 code ingest (SqStream) == batch encode, same model") {
    val (mins, steps, batchCodes) =
      graft.operators.Ingest.ensureSqIndex(spark, TestSpark.Sf0001)
    val stream = graft.streaming.SqStream.codeStream(
      spark, TestSpark.Sf0001, mins, steps)
    val q = EventStream.runToMemory(stream, "sq_stream_test", OutputMode.Append)
    q.awaitTermination()
    // byte[] equality is referential inside Row.toSeq — compare via hex
    val streamed = spark.table("sq_stream_test")
      .select(col("vec_id"), org.apache.spark.sql.functions.hex(col("code")))
      .orderBy("vec_id").collect().map(_.toSeq).toSeq
    val batch = batchCodes
      .select(col("vec_id"), org.apache.spark.sql.functions.hex(col("code")))
      .orderBy("vec_id").collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("streaming IVF delta ingest (IvfStream) == batch kernel assignment") {
    val emb = spark.read.parquet(TestSpark.Sf0001 + "/embeddings.parquet")
    val centroids = graft.operators.Similarity.kmeansCentroids(emb, 16, iters = 1)
      .localCheckpoint()
    val (cents, cids, dim) = graft.operators.Similarity.centroidArtifact(centroids)
    val stream = graft.streaming.IvfStream.assignStream(
      spark, TestSpark.Sf0001, cents, cids, dim)
    val q = EventStream.runToMemory(stream, "ivf_stream_test", OutputMode.Append)
    q.awaitTermination()
    val streamed = spark.table("ivf_stream_test")
      .select("vec_id", "cell").orderBy("vec_id").collect().map(_.toSeq).toSeq
    val batch = graft.operators.Similarity.ivfAssignKernel(emb, centroids)
      .select("vec_id", "cell").orderBy("vec_id").collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty && streamed == batch)
  }

  test("STREAMED delta serves kNN: canary lands via the stream, probe finds it (VERDICT r7 #8)") {
    // the LSM loop end to end: a delta batch arrives AS FILES in a
    // landing zone → the streaming twin cell-assigns it against the
    // STORED centroids → a partitionBy(cell) file sink writes the delta
    // layout → the batched kNN probe serves base + streamed delta and
    // must retrieve the canary (an exact copy of the probe's source
    // vector that exists ONLY in the streamed delta) at cosine 1.0.
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_knn").toString
    val (centroids, _) = graft.operators.Ingest.ensureIvfIndex(spark, TestSpark.Sf0001)
    val (cents, cids, dim) = graft.operators.Similarity.centroidArtifact(centroids)
    val emb = graft.queries.Tables.embeddings(spark, TestSpark.Sf0001)
    // offset 20: past the base-canary sources (the NumCanaries lowest
    // ids, twinned at +TwinOffset in the base index — their twins would
    // tie the probe at cosine 1.0 and win the id tie-break) and past the
    // batch append sources, so the ONLY exact copy is the streamed one
    val canarySrc = emb.orderBy("vec_id").offset(20).limit(1).localCheckpoint()
    val CanaryId = 30000000L
    canarySrc.withColumn("vec_id", lit(CanaryId))
      .write.parquet(s"$dir/landing")
    val stream = graft.streaming.IvfStream.assignLandingStream(
      spark, s"$dir/landing", canarySrc.schema, cents, cids, dim)
    val q = stream.writeStream.format("parquet")
      .option("path", s"$dir/delta").option("checkpointLocation", s"$dir/ckpt")
      .partitionBy("cell")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val delta = spark.read.parquet(s"$dir/delta")
    assert(delta.count() == 1) // the canary lives ONLY in the streamed delta
    val queries = canarySrc
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val top = graft.operators.Ingest.knnJoinIvfWithDelta(
        spark, TestSpark.Sf0001, delta, queries, k = 5)
      .collect()
    val canaryHit = top.filter(r => r.getAs[Long]("vec_id") == CanaryId)
    assert(canaryHit.length == 1, s"streamed canary not served (got ${top.length} rows)")
    // exact copy of the probe vector ⇒ cosine 1.0 ⇒ it must rank FIRST
    assert(canaryHit.head.getAs[Int]("rnk") == 1,
      s"canary ranked ${canaryHit.head.getAs[Int]("rnk")}, expected 1")
  }

  test("streamed near-dup admission (DedupStream) == batch; dup flagged, novel doc passes") {
    // ingestion-time gate: documents land as files, are sketched per
    // micro-batch, and probe the STORED band index — an exact copy of a
    // stored doc must surface (J = 1.0), a novel doc must come through
    // with no verified pair at all
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_admit").toString
    val stored = graft.operators.Ingest.ensureSketchedDocs(spark, TestSpark.Sf0001)
    val docs = graft.queries.Tables.documents(spark, TestSpark.Sf0001)
    val src = docs.orderBy("doc_id").limit(1).localCheckpoint()
    val dup = src.withColumn("doc_id", lit(910001L))
    val novel = src.withColumn("doc_id", lit(910002L)).withColumn("text",
      lit("zebra quantum marmalade turbine elk granite sonata pylon weasel " +
        "ficus drizzle cobalt yurt paprika glacier mandolin tungsten fjord"))
    dup.unionByName(novel).write.parquet(s"$dir/landing")
    val stream = graft.streaming.DedupStream.admitStream(
      spark, s"$dir/landing", src.schema, stored, 0.5)
    val q = EventStream.runToMemory(stream, "admit_stream_test", OutputMode.Append)
    q.awaitTermination()
    val got = spark.table("admit_stream_test")
      .select("probe_id", "stored_id", "jaccard").distinct().collect()
    assert(got.exists(r => r.getLong(0) == 910001L && r.getDouble(2) == 1.0),
      "streamed exact copy not flagged against its stored source")
    assert(!got.exists(_.getLong(0) == 910002L), "novel doc falsely flagged")
    // streaming ≡ batch: the same admitPairs body over the same landing
    // files must produce exactly the same verified pair rows
    val batch = graft.operators.Dedup.admitPairs(stored,
        graft.operators.Dedup.minhashFeatures(spark.read.parquet(s"$dir/landing")), 0.5)
      .select("probe_id", "stored_id", "jaccard").distinct()
      .collect().map(_.toSeq).toSet
    assert(got.map(_.toSeq).toSet == batch && batch.nonEmpty)
  }

  test("streaming Bloom decontamination (BloomStream) == batch filter") {
    import graft.functions.{BloomOps, Sketch}
    val docs = spark.read.parquet(TestSpark.Sf0001 + "/documents.parquet")
    // freeze a filter over the benchmark (valid/test) grams
    val toks = split(lower(regexp_replace(trim(col("text")), "\\s+", " ")), " ")
    val bloom = docs
      .filter(graft.operators.Curation.splitColumn(col("doc_id")) =!= "train")
      .select(explode(Sketch.wordGramHashes(toks, 8)).as("g")).distinct()
      .agg(BloomOps.bloomAgg(col("g"), 1000000L, 8000000L).as("bf"))
      .head().getAs[Array[Byte]](0)
    val stream = graft.streaming.BloomStream.cleanStream(
      spark, TestSpark.Sf0001, bloom)
    val q = EventStream.runToMemory(stream, "bloom_stream_test", OutputMode.Append)
    q.awaitTermination()
    val streamed = spark.table("bloom_stream_test")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val batch = docs
      .filter(!graft.streaming.BloomStream.contaminated(bloom))
      .select("doc_id", "source", "lang")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty && streamed == batch)
    // the filter must actually drop something: every eval doc self-hits
    assert(streamed.size < docs.count())
  }

  test("sessionCounts (flatMapGroupsWithState) == q_sessionize (batch)") {
    val stream = EventStream.sessionCounts(
      EventStream.readEvents(spark, TestSpark.Sf0001))
    val q = EventStream.runToMemory(stream.toDF(), "sess_test", OutputMode.Update)
    q.awaitTermination()
    // Update mode upserts one row per user per micro-batch; counts are
    // monotone, so max() picks the final state regardless of how many
    // micro-batches ran (last() would be shuffle-order-dependent).
    val streamed = spark.table("sess_test")
      .groupBy("user_id")
      .agg(org.apache.spark.sql.functions.max("n_events").as("n_events"),
        org.apache.spark.sql.functions.max("n_sessions").as("n_sessions"))
      .orderBy("user_id").collect().map(_.toSeq).toSeq
    val batch = Events.queries("q_sessionize")(spark, TestSpark.Sf0001)
      .collect().map(_.toSeq).toSeq
    assert(streamed == batch)
  }

  test("sessionWindows (native session_window, Append) == q_session_window (batch)") {
    val stream = EventStream.sessionWindows(
      EventStream.readEvents(spark, TestSpark.Sf0001))
    val q = EventStream.runToMemory(stream, "sw_test", OutputMode.Append)
    q.awaitTermination()
    // Append emits only watermark-finalized sessions; the tail sessions
    // (inside the final watermark horizon) are withheld, so compare the
    // finalized prefix: every emitted session must match the batch
    // session set exactly, and the emitted count must cover all batch
    // sessions that END more than 1h+gap before the max event time.
    val batchSessions = Events.queries("q_session_window")(spark, TestSpark.Sf0001)
      .agg(sum("n_sessions")).collect().head.getLong(0)
    val streamedRows = spark.table("sw_test")
    val streamed = streamedRows.count()
    assert(streamed > 0 && streamed <= batchSessions,
      s"finalized sessions $streamed must be a prefix of $batchSessions")
    // per-user totals over finalized sessions must agree with a batch
    // recomputation restricted to the same sessions (join on start)
    val batchPerSession = graft.queries.Tables.events(spark, TestSpark.Sf0001)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"))
    val mismatch = streamedRows.as("s")
      .join(batchPerSession.as("b"), Seq("user_id", "session_start"), "left")
      .filter(col("s.n_events") =!= col("b.n_events") || col("b.n_events").isNull)
      .count()
    assert(mismatch == 0, "every finalized streaming session must equal its batch twin")
  }

  test("funnelJoin (stream-stream, Append) == q_funnel_attrib (batch)") {
    val stream = EventStream.funnelJoin(
      EventStream.readEvents(spark, TestSpark.Sf0001))
    val q = EventStream.runToMemory(stream, "funnel_test", OutputMode.Append)
    q.awaitTermination()
    // AvailableNow drains the whole (static) input, so every joinable
    // pair is watermark-finalized by the terminal batch; per-user pair
    // counts must equal the batch twin exactly.
    val streamed = spark.table("funnel_test")
      .groupBy("user_id").agg(count(lit(1)).as("n_attributed"))
      .orderBy("user_id").collect().map(_.toSeq).toSeq
    val batch = Events.queries("q_funnel_attrib")(spark, TestSpark.Sf0001)
      .collect().map(_.toSeq).toSeq
    assert(streamed == batch)
  }

  test("funnelJoin emits pairs incrementally and bounds state by the watermark") {
    import testImplicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source = MemoryStream[(Long, Timestamp, String)]
    val joined = EventStream.funnelJoin(
      source.toDF().toDF("user_id", "ts", "event_type"))
    val q = joined.writeStream.format("memory").queryName("funnel_inc")
      .outputMode(OutputMode.Append).start()
    def t(s: String) = Timestamp.valueOf(s)
    try {
      // click at 09:00; purchases at 09:30 (in window) and 10:30 (outside)
      source.addData((1L, t("2024-01-01 09:00:00"), "click"),
        (1L, t("2024-01-01 09:30:00"), "purchase"),
        (1L, t("2024-01-01 10:30:00"), "purchase"))
      q.processAllAvailable()
      // advance both watermarks far past every join window so the 09:00
      // click's pairs finalize (and its state is evictable)
      source.addData((2L, t("2024-01-01 15:00:00"), "click"),
        (2L, t("2024-01-01 15:00:00"), "purchase"))
      q.processAllAvailable()
      val pairs = spark.table("funnel_inc")
        .select("user_id", "purchase_ts").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).toString)).toSet
      assert(pairs == Set((1L, "2024-01-01 09:30:00.0"),
          (2L, "2024-01-01 15:00:00.0")),
        s"only in-window pairs may be emitted: $pairs")
    } finally q.stop()
  }

  test("sessionCounts is exact under out-of-order delivery within the watermark") {
    import testImplicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source = MemoryStream[(Long, Timestamp)]
    val sessions = EventStream.sessionCounts(
      source.toDF().toDF("user_id", "ts"))
    val q = sessions.toDF().writeStream.format("memory").queryName("ooo_test")
      .outputMode(OutputMode.Update).start()
    def t(s: String) = Timestamp.valueOf(s)
    try {
      // batch 1 delivers 11:00 and 11:40 (gap 40 min ≥ 30 ⇒ looks like 2
      // sessions); batch 2 delivers the MISSING 11:20 out of order but
      // within the 1-hour watermark (wm after batch 1 = 10:40). True
      // timeline 11:00/11:20/11:40 has every gap 20 min ⇒ ONE session.
      // The r2 ordering-precondition fold would keep 2.
      source.addData((1L, t("2024-01-01 11:00:00")), (1L, t("2024-01-01 11:40:00")))
      q.processAllAvailable()
      source.addData((1L, t("2024-01-01 11:20:00")))
      q.processAllAvailable()
      // batch 3: much later event advances the watermark past the buffer
      // (finalizes it) and opens a genuine second session
      source.addData((1L, t("2024-01-01 14:00:00")))
      q.processAllAvailable()
      // n_sessions is NOT monotone under reordering (2 → 1 → 2 here), so
      // pick the final upsert via the monotone n_events inside a struct
      val last = spark.table("ooo_test")
        .groupBy("user_id")
        .agg(max(struct(col("n_events"), col("n_sessions"))).as("fin"))
        .select("user_id", "fin.n_events", "fin.n_sessions")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(last == Seq((1L, 4L, 2L)),
        s"expected 4 events in 2 sessions after reordered replay, got $last")
    } finally q.stop()
  }

  test("streaming dedup drops duplicate event_ids within the watermark") {
    import testImplicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source = MemoryStream[(Long, Timestamp)]
    val deduped = EventStream.dedupedEvents(
      source.toDF().toDF("event_id", "ts"))
    val q = deduped.writeStream.format("memory").queryName("dedup_test")
      .outputMode(OutputMode.Append).start()
    def t(s: String) = Timestamp.valueOf(s)
    try {
      source.addData((1L, t("2024-01-01 05:00:00")), (2L, t("2024-01-01 05:01:00")))
      q.processAllAvailable()
      // same ids again (the at-least-once replay case) + one new id
      source.addData((1L, t("2024-01-01 05:02:00")), (3L, t("2024-01-01 05:03:00")))
      q.processAllAvailable()
      val ids = spark.table("dedup_test").select("event_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == Seq(1L, 2L, 3L), s"duplicates must be dropped: $ids")
    } finally q.stop()
  }

  test("watermark drops events later than 1 hour behind the max event time") {
    import testImplicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source = MemoryStream[(Timestamp, String, Double)]
    val agg = EventStream.windowedAgg(
      source.toDF().toDF("ts", "event_type", "value"))
    val q = agg.writeStream.format("memory").queryName("wm_test")
      .outputMode(OutputMode.Append).start()
    def t(s: String) = Timestamp.valueOf(s)
    try {
      // batch 1: events up to 06:30 → watermark advances to 05:30
      source.addData((t("2024-01-01 04:10:00"), "click", 1.0),
        (t("2024-01-01 06:30:00"), "view", 2.0))
      q.processAllAvailable()
      // batch 2: a 03:00 event is > 1h behind the 06:30 max → dropped;
      // a 06:00 event is within the watermark → kept
      source.addData((t("2024-01-01 03:00:00"), "click", 99.0),
        (t("2024-01-01 06:00:00"), "view", 3.0))
      q.processAllAvailable()
      // close all windows
      source.addData((t("2024-01-01 10:00:00"), "view", 0.0))
      q.processAllAvailable()
      val rows = spark.table("wm_test")
        .select("h", "event_type", "n").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      assert(rows.contains(("2024-01-01 04:00:00", "click", 1L)))
      assert(rows.contains(("2024-01-01 06:00:00", "view", 2L))) // 06:00 + 06:30
      assert(!rows.exists(_._1 == "2024-01-01 03:00:00"),
        s"late 03:00 event must be dropped by the watermark: $rows")
    } finally q.stop()
  }

  test("composed ingest gate (IngestGateStream) == batch score+admit+assign chain") {
    // the full admission pipeline in ONE AvailableNow pass: a landing
    // batch of (doc_id, text, embedding) rows is BM25-tagged against
    // the frozen model, near-dup-gated against the stored sketch index,
    // and IVF-cell-assigned against the frozen centroids. One landing
    // doc is an exact copy of a stored doc (must be REJECTED), two are
    // novel (must come through scored and assigned).
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest_gate").toString
    val stored = graft.operators.Ingest.ensureSketchedDocs(spark, TestSpark.Sf0001)
    val (centroids, _) = graft.operators.Ingest.ensureIvfIndex(spark, TestSpark.Sf0001)
    val (cents, cids, dim) = graft.operators.Similarity.centroidArtifact(centroids)
    val terms = Seq("table", "scan", "join")
    val (dfMap, nDocs, dlTotal) =
      graft.streaming.Bm25Stream.frozenModel(spark, TestSpark.Sf0001, terms)
    val docs = graft.queries.Tables.documents(spark, TestSpark.Sf0001)
    val emb = graft.queries.Tables.embeddings(spark, TestSpark.Sf0001)
      .orderBy("vec_id").limit(3).select("embedding")
      .collect().map(_.getAs[scala.collection.Seq[Float]](0))
    val src = docs.orderBy("doc_id").limit(1)
      .select("doc_id", "text").localCheckpoint()
    val srcText = src.head().getString(1)
    import testImplicits._
    val novelText = "zebra quantum marmalade turbine elk granite sonata pylon " +
      "weasel ficus drizzle cobalt yurt paprika glacier mandolin"
    val landing = Seq(
      (920001L, srcText, emb(0)), // exact stored copy → rejected
      (920002L, novelText, emb(1)),
      (920003L, "table scan join table scan join table scan join pivot " +
        "quantum granite sonata turbine elk marmalade zebra pylon", emb(2)),
      // exact copy of 920002 WITHIN the batch: keep-first must admit
      // only the smaller id even though neither is in the stored index
      (920004L, novelText, emb(1))
    ).toDF("doc_id", "text", "embedding")
    landing.write.parquet(s"$dir/landing")
    val q = graft.streaming.IngestGateStream.gateStream(spark,
      s"$dir/landing", landing.schema, s"$dir/out", s"$dir/ckpt",
      dfMap, nDocs, dlTotal, stored, 0.5, cents, cids, dim)
    q.awaitTermination()
    val got = spark.read.parquet(s"$dir/out")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    // streamed ≡ batch: the same gateBatch body over the same files
    val batch = graft.streaming.IngestGateStream.gateBatch(
        spark.read.parquet(s"$dir/landing"), dfMap, nDocs, dlTotal,
        stored, 0.5, cents, cids, dim)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
    assert(got == batch, s"stream $got != batch $batch")
    // admission semantics: the stored copy AND the intra-batch second
    // copy are gone; the two distinct novels come through
    assert(!got.exists(_._1 == 920001L), "exact stored copy must be rejected")
    assert(!got.exists(_._1 == 920004L),
      "intra-batch duplicate must lose keep-first")
    assert(got.map(_._1) == Set(920002L, 920003L))
    // relevance routing: the term-rich doc outscores the term-free one
    val byId = got.map(t => t._1 -> t).toMap
    assert(byId(920002L)._2 == 0.0 && byId(920003L)._2 > 0.0)
    // every admitted doc landed in a REAL cell of the frozen geometry
    assert(got.forall(t => cids.contains(t._3)))
  }

  test("streamed URL admission (CrawlStream) == batch urlAdmit chain") {
    // the crawl front gate: canonical-URL dedup before any page fetch.
    // Landing batch: one URL whose canonical form is already stored
    // (rejected), one novel (admitted), and two messy variants of the
    // SAME novel canonical (keep-first admits only the smaller id).
    import testImplicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_url").toString
    val stored = Seq("https://old.site/a?id=1").toDF("url")
      .select(graft.operators.Crawl.canonicalizeUrl(col("url")).as("canon_url"))
      .localCheckpoint()
    val landing = Seq(
      (930001L, "HTTPS://OLD.site:443/a/?utm_source=x&id=1"), // stored dup
      (930002L, "http://fresh.org/p?b=2&a=1"),                // novel
      (930003L, "http://WWW.brand.new/x?id=9&ref=rss"),       // novel, first
      (930004L, "http://brand.new:80/x/?id=9#frag")           // same canonical
    ).toDF("doc_id", "url")
    landing.write.parquet(s"$dir/landing")
    val q = graft.streaming.CrawlStream.admitUrlStream(spark,
      s"$dir/landing", landing.schema, s"$dir/out", s"$dir/ckpt", stored)
    q.awaitTermination()
    val got = spark.read.parquet(s"$dir/out")
      .select("doc_id", "canon_url").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val batchSet = graft.operators.Crawl.urlAdmit(
        spark.read.parquet(s"$dir/landing"), stored)
      .select("doc_id", "canon_url").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == batchSet, s"stream $got != batch $batchSet")
    assert(got.map(_._1) == Set(930002L, 930003L),
      s"stored dup and intra-batch loser must be rejected: $got")
    assert(got.find(_._1 == 930003L).get._2 == "http://brand.new/x?id=9")
  }

  test("streamed WARC front gate: .warc.gz lands, dup URL rejected, novel admitted") {
    // the admission gate fed by the raw CONTAINER: a 2-member .warc.gz
    // arrives in the landing directory; member 1's canonical URL is
    // already in the stored index (rejected), member 2 is novel
    // (admitted in canonical form). Streamed ≡ the batch decode+admit
    // chain on the same archive bytes.
    import testImplicits._
    import graft.sources.WarcFile
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_warc").toString
    val stored = Seq("https://old.site/a?id=1").toDF("url")
      .select(graft.operators.Crawl.canonicalizeUrl(col("url")).as("canon_url"))
      .localCheckpoint()
    val warc = WarcFile.encodeWarcGz(Seq(
      WarcFile.WarcRecord("HTTPS://OLD.site:443/a/?utm_source=x&id=1",
        "urn:graft:doc-940001", 200, "<html><p>dup</p></html>"),
      WarcFile.WarcRecord("http://WWW.fresh.org:80/p/?b=2&ref=rss&a=1",
        "urn:graft:doc-940002", 200, "<html><p>novel</p></html>")))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/landing"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/landing/seg-00001.warc.gz"), warc)
    val q = graft.streaming.CrawlStream.admitWarcStream(spark,
      s"$dir/landing", s"$dir/out", s"$dir/ckpt", stored)
    q.awaitTermination()
    val got = spark.read.parquet(s"$dir/out")
      .select("doc_id", "canon_url").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    // batch twin: decode the same archive bytes, run the same admit body
    val batchUrls = WarcFile.decodeWarcGz(warc)
      .map(r => (r.recordId.stripPrefix("urn:graft:doc-").toLong, r.targetUri))
      .toDF("doc_id", "url")
    val batchSet = graft.operators.Crawl.urlAdmit(batchUrls, stored)
      .select("doc_id", "canon_url").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == batchSet, s"stream $got != batch $batchSet")
    assert(got == Set((940002L, "http://fresh.org/p?a=1&b=2")),
      s"dup must be rejected, novel admitted canonicalized: $got")
  }
}
