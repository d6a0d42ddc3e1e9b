package graftbench

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

import graft.plans.TopKPerKeyExec

/** TopKPerKey row counts from an executed plan, read after its action.
  * TopKPerKeyExec declares no SQL metrics of its own, so the counts come
  * from its neighbours: rows in are counted by the nearest row-counting
  * node below each partial phase, rows out are the records the shuffle
  * above it writes to the final phase. Nodes between them are
  * row-preserving (projections, codegen wrappers, stage readers); a
  * multi-child node ends the search and contributes nothing. */
object Plans {

  private def kids(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case other => other.children
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: kids(p).flatMap(nodes)

  /** The first value `f` yields walking down the single-child chain. */
  private def down(p: SparkPlan)(f: SparkPlan => Option[Long]): Option[Long] = {
    var cur = kids(p)
    var hit: Option[Long] = None
    while (hit.isEmpty && cur.size == 1) {
      hit = f(cur.head)
      cur = kids(cur.head)
    }
    hit
  }

  private def metric(p: SparkPlan, name: String): Option[Long] =
    p.metrics.get(name).map(_.value)

  private def rowsWritten(p: SparkPlan): Option[Long] = p match {
    case e: ShuffleExchangeExec => metric(e, "shuffleRecordsWritten")
    case _ => None
  }

  /** (rows into partial phases, rows out of them). */
  def topK(plan: SparkPlan): (Long, Long) = {
    val all = nodes(plan)
    val rowsIn = all.collect { case t: TopKPerKeyExec if t.partial => t }
      .flatMap(t => down(t)(n => metric(n, "numOutputRows").orElse(rowsWritten(n)))).sum
    val rowsOut = all.collect { case t: TopKPerKeyExec if !t.partial => t }
      .flatMap(t => down(t)(rowsWritten)).sum
    (rowsIn, rowsOut)
  }
}
