package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Streamed TAKEDOWN front door — the deletion verb's streaming
  * posture: retraction batches (doc_id rows — a legal hold, a user
  * erasure request, a licensing retraction) land as files, and each
  * micro-batch folds into the tombstone table. The table is an
  * APPEND-ONLY directory of id files: tombstones only ever accumulate,
  * and the serve-side mask is an anti-join, for which duplicate ids
  * are semantically free — so there is no read-modify-write, no state
  * store, no distinct, just one idempotent `batch=<id>` overwrite per
  * trigger (foreachBatch is at-least-once; the CrawlStream sink rule).
  * Every serve AFTER a trigger masks the grown set: every stored
  * family's accessor (`Ingest.bm25Served`, `Ingest.knnJoinIvfServed`,
  * `CorpusStats.cmsServed` / `histServed`, `Multimodal.mediaServed`,
  * …) over `DocGen.Masked(Tombstones.Supplied(…))`, and the model-axis
  * retractions (`Curation.nbModelRetracted`, …) over the same
  * `Tombstones.Supplied`, take the accumulated directory as their
  * tombstone frame. Supplied makes the ids distinct once and derives
  * the negative stats and retraction sketches from them at serve time
  * — bounded by the retraction size, never a corpus re-scan. */
object ForgetStream {

  /** `compactAtBatches` (VERDICT r14 #8, the last manual step in the
    * continuous-maintenance story): when > 0, each trigger checks the
    * accumulated committed `batch=<id>` dir count AFTER its own write
    * and, at or past the threshold, runs [[compactTombstones]] inline —
    * the size-triggered LSM compaction inside the ingest loop. Safety
    * is inherited wholesale: the compactor folds only marker-committed
    * dirs, commits the new generation before deleting anything, and
    * [[tombstoneIds]] reads batches ∪ highest committed generation, so
    * a reader concurrent with ANY crash point of the in-loop compaction
    * sees exactly the accumulated set (EventStreamSpec walks this). A
    * retried trigger (crash between sink write and checkpoint commit)
    * re-runs compaction at worst — idempotent, like the sink itself.
    * 0 (the default) keeps the pure append behavior. */
  def tombstoneStream(s: SparkSession, landingGlob: String,
      schema: StructType, tombDir: String, ckptDir: String,
      compactAtBatches: Int = 0): StreamingQuery = {
    val reader = s.readStream.schema(schema)
    // in auto-compact mode, bound each micro-batch to one landing file
    // so accumulation (and the threshold) is exercised WITHIN one
    // AvailableNow run, not only across runs
    val bounded =
      if (compactAtBatches > 0) reader.option("maxFilesPerTrigger", 1)
      else reader
    bounded.parquet(landingGlob)
      .writeStream
      .foreachBatch { (b: DataFrame, batchId: Long) =>
        b.select("doc_id")
          .write.mode("overwrite").parquet(s"$tombDir/batch=$batchId")
        if (compactAtBatches > 0) {
          val fs = new org.apache.hadoop.fs.Path(tombDir)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          if (committedBatches(fs, tombDir).size >= compactAtBatches)
            compactTombstones(s, tombDir)
        }
        ()
      }
      .option("checkpointLocation", ckptDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Compact the accumulated tombstone directory — the LSM small-files
    * rule applied to the deletion front door: thousands of per-trigger
    * `batch=<id>` files (one takedown each) rewrite as ONE distinct id
    * set under the NEXT NUMBERED generation (`gen=<n+1>`), committed by
    * its `_SUCCESS` marker before any old file is touched, then the
    * folded batch dirs and superseded generations are dropped.
    * Duplicate retraction requests collapse here (the anti-join never
    * needed them distinct, but the accumulated bytes and file-listing
    * cost grow forever without this). Readers are never wrong at ANY
    * crash point: no path is ever deleted-then-recreated — generations
    * only appear (fully written, then marker-committed) and
    * [[tombstoneIds]] reads the HIGHEST committed one, so a crash
    * before the marker leaves the old generation live and a crash
    * after it leaves both (the new one already contains the old).
    * The batch list is snapshotted BEFORE the fold so a retraction
    * landing mid-compaction is never deleted without being folded in —
    * it simply rides until the next compaction. */
  def compactTombstones(s: SparkSession, tombDir: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(tombDir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    // fold ONLY marker-committed batch dirs: a trigger mid-write has
    // files on disk before its _SUCCESS lands, and folding-then-deleting
    // a partial batch would permanently lose the ids flushed after the
    // fold's read (the stream's checkpoint will not replay a batch the
    // sink already committed) — an uncommitted dir simply rides to the
    // next compaction, like a batch arriving after the snapshot
    val batches = committedBatches(fs, tombDir)
    // nothing accumulated since the last compaction → the generation is
    // already exactly the set. Still garbage-collect superseded
    // generations a crash between gen-commit and cleanup left behind
    // (they never make a reader wrong — tombstoneIds takes the highest —
    // but their listing cost otherwise accumulates until a NEW
    // retraction happens to arrive and trigger the full path).
    if (batches.isEmpty) {
      committedGens(fs, tombDir).dropRight(1).foreach(n =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$tombDir/gen=$n"), true))
      return
    }
    val cur = committedGens(fs, tombDir)
    val next = cur.lastOption.map(_ + 1).getOrElse(1)
    s.read.parquet(batches.map(_.toString): _*).select("doc_id")
      .unionByName(cur.lastOption
        .map(n => s.read.parquet(s"$tombDir/gen=$n").select("doc_id"))
        .getOrElse(s.emptyDataFrame
          .selectExpr("CAST(0 AS BIGINT) AS doc_id").limit(0)))
      .distinct()
      .write.mode("overwrite").parquet(s"$tombDir/gen=$next")
    require(fs.exists(
      new org.apache.hadoop.fs.Path(s"$tombDir/gen=$next/_SUCCESS")),
      s"tombstone compaction: gen=$next did not commit; old layout intact")
    // cleanup is pure garbage collection of superseded state — every id
    // below is already inside the committed gen=$next
    batches.foreach(p => fs.delete(p, true))
    cur.foreach(n =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$tombDir/gen=$n"), true))
  }

  /** Marker-committed `batch=<id>` dirs — the same commit protocol the
    * compactor applies: a trigger mid-write has parquet part files on
    * disk before its `_SUCCESS` lands, and a dir without the marker is
    * not-yet-arrived for EVERY reader (compactor and server alike). */
  private def committedBatches(fs: org.apache.hadoop.fs.FileSystem,
      tombDir: String): Seq[org.apache.hadoop.fs.Path] =
    Option(fs.globStatus(new org.apache.hadoop.fs.Path(s"$tombDir/batch=*")))
      .getOrElse(Array.empty).map(_.getPath)
      .filter(p => fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")))
      .toSeq

  /** Committed (marker-bearing) generation numbers in ascending order. */
  private def committedGens(fs: org.apache.hadoop.fs.FileSystem,
      tombDir: String): Seq[Int] =
    Option(fs.globStatus(new org.apache.hadoop.fs.Path(s"$tombDir/gen=*")))
      .getOrElse(Array.empty)
      .filter(st => fs.exists(
        new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS")))
      .flatMap(st => st.getPath.getName.stripPrefix("gen=").toIntOption)
      .sorted.toSeq

  /** Every tombstone id the directory holds, whatever its layout state:
    * COMMITTED batch dirs ∪ the highest COMMITTED generation (either may
    * be absent; mid-compaction — or after a torn one — both exist and
    * the union is still exactly the set, because a committed generation
    * contains everything that was folded into it). The batch side
    * applies the same `_SUCCESS` filter as [[compactTombstones]]: a
    * reader concurrent with a mid-write trigger must neither throw on a
    * partially-written parquet file nor observe ids the compactor
    * deliberately treats as not-yet-arrived — one commit protocol for
    * every reader. */
  def tombstoneIds(s: SparkSession, tombDir: String): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(tombDir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val batches = committedBatches(fs, tombDir)
    val parts =
      Option(batches).filter(_.nonEmpty)
        .map(ps => s.read.parquet(ps.map(_.toString): _*).select("doc_id"))
        .toSeq ++
      committedGens(fs, tombDir).lastOption
        .map(n => s.read.parquet(s"$tombDir/gen=$n").select("doc_id")).toSeq
    parts.reduceOption(_ unionByName _)
      .getOrElse(s.emptyDataFrame.selectExpr("CAST(0 AS BIGINT) AS doc_id").limit(0))
  }
}
