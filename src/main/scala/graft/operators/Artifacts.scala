package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** THE stored-artifact path + commit protocol — one implementation for
  * every `ensure*`/`purge*`/`compact*` family (Ingest, Curation,
  * CorpusStats, Formats, Multimodal previously carried private copies;
  * a protocol change replicated across five files is how artifact
  * layouts silently fork between axes).
  *
  *  - Paths are per-application (appId) under an overridable root
  *    (`graft.scratch` conf), so concurrent driver runs over the same
  *    dataset never race on one directory.
  *  - An artifact is LIVE only once its `_SUCCESS` marker exists: a
  *    bare directory can be a torn write from a crashed run, and gated
  *    writes are OVERWRITE so a torn directory is repaired, never
  *    served.
  */
private[operators] object Artifacts {

  def scratch(s: SparkSession, dir: String, name: String): String = {
    val root = s.conf.getOption("graft.scratch").getOrElse("target/tmp")
    s"$root/${s.sparkContext.applicationId}/${name}_" +
      dir.replaceAll("[^0-9a-zA-Z]", "_")
  }

  def committed(s: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path, "_SUCCESS")
    p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p)
  }

  private val buildLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** The race-safe form of the `if (!committed(path)) write` gate every
    * builder uses (optimization r16): composed queries construct their
    * independent sub-plans on POOL THREADS (guide §2.6), so two threads
    * can reach the same cold artifact's gate together — an unlocked
    * overwrite then interleaves two write jobs into one directory
    * (torn files under a valid-looking marker). Per-path double-checked
    * lock: the loser of the race re-checks inside the lock and reads
    * the winner's marker-committed artifact instead of rebuilding. Warm
    * callers never touch the lock — the fast path stays one FS
    * `exists()` — so concurrent construction of already-built plans
    * (the overwhelmingly common case) is uncontended. */
  def buildGate(s: SparkSession, path: String)(write: => Unit): Unit =
    if (!committed(s, path))
      buildLocks.computeIfAbsent(path, _ => new Object).synchronized {
        if (!committed(s, path)) write
      }

  // (appId, path, _SUCCESS mtime) -> reader
  private val readers = scala.collection.concurrent.TrieMap
    .empty[(String, String, Long), DataFrame]

  /** Parquet reader over a stored artifact, memoized per (application,
    * path, commit-marker mtime). Constructing a reader costs a file
    * listing + footer schema read (~75 ms measured warm at sf0.1), and
    * the serve paths re-construct readers for the same committed
    * artifacts on every query — hundreds of times per bench pass. A
    * COMMITTED artifact is immutable by the LSM protocol (generations
    * get new paths; only torn, never-committed directories are
    * overwritten), so reusing the reader's snapshot is exactly the
    * protocol's guarantee; the marker mtime in the key re-reads any
    * path that is genuinely recommitted. An uncommitted path is never
    * memoized — its contents are still in flight. */
  def readCommitted(s: SparkSession, path: String): DataFrame = {
    val marker = new org.apache.hadoop.fs.Path(path, "_SUCCESS")
    val fs = marker.getFileSystem(s.sparkContext.hadoopConfiguration)
    val mtime =
      try fs.getFileStatus(marker).getModificationTime
      catch { case _: java.io.FileNotFoundException => -1L }
    if (mtime < 0) s.read.parquet(path)
    else readers.getOrElseUpdate(
      (s.sparkContext.applicationId, path, mtime), s.read.parquet(path))
  }

  /** THE partitioned write (term buckets, IVF cells, media modalities).
    * Repartitioning on the partition column first makes each write task
    * own whole partitions, so the layout is one file per partition
    * value instead of values × shuffle.partitions fragments (the
    * small-files problem that kills object-store listings at scale). */
  def writePartitioned(rows: DataFrame, by: String, path: String): Unit =
    rows.repartition(col(by)).write.mode("overwrite").partitionBy(by).parquet(path)

  /** One stored table — a generation of a one-table family: gated write
    * (partitioned by `partitionBy` when set), then the committed reader.
    * `rows` is built only on the cold path. */
  def storedTable(s: SparkSession, path: String, partitionBy: Option[String] = None)(
      rows: => DataFrame): DataFrame = graft.BuildTimer.time {
    buildGate(s, path) {
      partitionBy.fold(rows.write.mode("overwrite").parquet(path))(
        writePartitioned(rows, _, path))
    }
    readCommitted(s, path)
  }
}
