package graft.operators

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.DataFrame

/** Memo for BOUNDED artifacts derived from a deterministic source plan
  * (probe rows, canary query batches, frozen model readouts): the value
  * is collected once per (application, source plan) and reused — the
  * embeddingCount precedent.
  *
  * Key integrity (ADVICE r15): the lookup key is (appId, schema,
  * 32-bit semanticHash) — cheap — but a 32-bit hash collision between
  * two distinct plans in one application must NOT silently serve the
  * wrong fixture. Each entry therefore stores the CANONICALIZED plan
  * OBJECT alongside the value and verifies structural equality on every
  * hit; a mismatch degrades to a fresh computation (correct, just
  * uncached) instead of wrong data. The comparison is plan equality,
  * NOT `canonicalized.toString` equality — stringifying plans that
  * embed large literals (PQ codebooks, localized query batches) was
  * measured at +0.3–0.8 s per memo-using serve, defeating the memo;
  * `canonicalized` itself is a lazy val the semanticHash already
  * forces, so the object compare adds no canonicalization work. */
private[graft] object PlanMemo {

  private val counts = new PlanMemo[Long]

  /** Row count of a deterministic frame, computed once per
    * (application, plan) — the embeddingCount memo generalized: several
    * serve paths need a corpus size at CONSTRUCTION time (synthetic
    * outlink targets, PageRank's dangling share, derived IVF geometry),
    * and each re-count is a full job per query construction. */
  def countOnce(df: DataFrame): Long = counts.getOrElseUpdate(df, df.count())
}

private[operators] final class PlanMemo[V] {

  import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

  // (appId, schema, semanticHash) -> (canonical plan, value)
  private val m = TrieMap.empty[(String, String, Int), (LogicalPlan, V)]

  def getOrElseUpdate(df: DataFrame, compute: => V): V = {
    val canon = df.queryExecution.analyzed.canonicalized
    val key = (df.sparkSession.sparkContext.applicationId,
      df.schema.simpleString, canon.hashCode())
    m.get(key) match {
      case Some((c, v)) if c == canon => v
      case Some(_) => compute // hash collision: serve fresh, keep first entry
      case None =>
        val v = compute
        m.putIfAbsent(key, (canon, v))
        v
    }
  }
}
