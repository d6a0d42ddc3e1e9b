package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graft.Bridge

/** Whole-operator extension (the (c) rung of the custom-operator
  * ladder): bounded per-key top-k as a custom LogicalPlan + planner
  * Strategy + physical operator, installed through
  * `SparkSessionExtensions` (GraftExtensions) or per-session by
  * `GraftExtensions.install`; [[TopK.topKPerKey]] adds the strategy
  * itself, because the node it returns cannot be planned without it.
  *
  * WHY a custom operator: the declarative form —
  * `row_number() OVER (PARTITION BY key ORDER BY …) <= k` — plans as
  * Exchange → FULL per-partition Sort → Window → Filter: every row of
  * every key is shuffled and sorted, then all but k·|keys| rows are
  * thrown away. At a 100 TB crawl with billion-page domains that sort
  * is the job. The built-in operators cannot express "keep a bounded
  * heap per key", so this is exactly the case the extension ladder
  * reserves for a physical operator:
  *
  *  - PARTIAL phase (before the exchange): one bounded heap per key
  *    per input partition — the shuffle then carries ≤ |keys|·k rows
  *    per partition instead of the corpus (the map-side-combine
  *    argument, applied to top-k).
  *  - FINAL phase (after the hash exchange on the keys): re-heap the
  *    ≤ #partitions·k survivors per key.
  *
  * Per-task state is min(|keys in task|, [[TopK.PartialMaxKeysConf]])
  * · k row copies — bounded by the cap in BOTH dimensions: skew can't
  * grow a heap past k, and near-unique keys can't grow the map past
  * the key budget (overflow emits-and-resets; the FINAL phase
  * re-heaps, so a multi-segment partial is merely a superset). Output
  * row SET is exact whenever the ordering is total (the repo's
  * tiebreaker rule); intra-group order is unspecified (callers order,
  * as they already must for the gate).
  */
object TopK {

  /** Cap on distinct keys held by one PARTIAL-phase task before it
    * emits its heaps downstream and resets (spill-safety for
    * near-unique keys). 64k keys · k rows is the worst-case resident
    * set; at k=5 and ~100 B rows that is ~32 MB per task. */
  val PartialMaxKeysConf: String = "graft.topk.partialMaxKeys"
  val PartialMaxKeysDefault: Int = 65536

  /** `df` reduced to the top `k` rows per `keys` group under `order`
    * (strongest first — pass `col.desc`/`col.asc` exactly as to a
    * window). Plans as the two-phase bounded-heap operator above. */
  def topKPerKey(df: DataFrame, keys: Seq[Column], order: Seq[Column],
      k: Int): DataFrame = {
    require(k > 0, "topKPerKey: k must be positive")
    Bridge.addStrategy(df.sparkSession, TopKPerKeyStrategy)
    val sortOrders = order.map(c => Bridge.catalystExpression(c) match {
      case s: SortOrder => s
      case e => SortOrder(e, Ascending)
    })
    Bridge.ofRows(df.sparkSession,
      TopKPerKeyNode(keys.map(Bridge.catalystExpression), sortOrders, k,
        df.queryExecution.logical))
  }
}

/** Logical form: semantics only ("the top k rows of each key group
  * under `order`"); the strategy below picks the physical form. */
case class TopKPerKeyNode(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyNode =
    copy(child = newChild)
}

/** Planner strategy: partial heaps → (exchange inserted by
  * EnsureRequirements) → final heaps. */
object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyNode(g, o, k, child) =>
      TopKPerKeyExec(g, o, k, partial = false,
        TopKPerKeyExec(g, o, k, partial = true, planLater(child))) :: Nil
    case _ => Nil
  }
}

/** Physical bounded-heap top-k per key. `partial = true` runs on raw
  * input partitions (no distribution requirement); `partial = false`
  * requires clustering on the keys, so EnsureRequirements inserts the
  * one hash exchange between the two phases. */
case class TopKPerKeyExec(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    partial: Boolean,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(groupExprs) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val kCap = k
    val groupLocal = groupExprs
    val orderLocal = order
    val childOutput = child.output
    // Spill safety: the PARTIAL phase's heap map would otherwise grow
    // with the number of distinct keys in the task — for near-unique
    // keys that approaches the whole input partition held as UnsafeRow
    // copies (the regime where Spark's partial hash aggregate falls
    // back to sort-based spill). Cap the map; on overflow, EMIT the
    // accumulated heaps downstream and reset — partial output is merely
    // a superset of the answer, the FINAL phase re-heaps, so
    // correctness is unaffected and memory is cap·k rows, never
    // data-shaped. The FINAL phase is uncapped by design: it is
    // clustered on the keys and its map holds exactly the output rows.
    val maxKeys =
      if (partial) conf.getConfString(TopK.PartialMaxKeysConf,
        TopK.PartialMaxKeysDefault.toString).toInt
      else Int.MaxValue
    require(maxKeys > 0, s"${TopK.PartialMaxKeysConf} must be positive")
    child.execute().mapPartitions({ it =>
      val keyProj = UnsafeProjection.create(groupLocal, childOutput)
      val ord = GenerateOrdering.generate(orderLocal, childOutput)
      // heap head = the WORST of the kept k (reverse ordering), so a
      // better row evicts the head in O(log k)
      val worstFirst = new java.util.Comparator[InternalRow] {
        override def compare(a: InternalRow, b: InternalRow): Int =
          ord.compare(b, a)
      }
      new Iterator[InternalRow] {
        import scala.jdk.CollectionConverters._
        private var heaps =
          new java.util.LinkedHashMap[UnsafeRow, java.util.PriorityQueue[InternalRow]]
        private var out: Iterator[InternalRow] = Iterator.empty
        private var inputDone = false

        private def drain(): Iterator[InternalRow] = {
          val full = heaps
          heaps = new java.util.LinkedHashMap[UnsafeRow,
            java.util.PriorityQueue[InternalRow]]
          full.values.asScala.iterator.flatMap(_.iterator().asScala)
        }

        override def hasNext: Boolean = {
          while (!out.hasNext && !inputDone) {
            var flushed = false
            while (!flushed && it.hasNext) {
              val row = it.next()
              val key = keyProj(row)
              var heap = heaps.get(key)
              if (heap == null) {
                if (heaps.size >= maxKeys) {
                  // emit-and-reset BEFORE admitting the new key
                  out = drain()
                  flushed = true
                }
                heap = new java.util.PriorityQueue[InternalRow](kCap, worstFirst)
                heaps.put(key.copy(), heap)
              }
              if (heap.size < kCap) heap.add(row.copy())
              else if (ord.compare(row, heap.peek()) < 0) {
                heap.poll()
                heap.add(row.copy())
              }
            }
            if (!it.hasNext && !flushed) {
              inputDone = true
              out = drain()
            }
          }
          out.hasNext
        }

        override def next(): InternalRow = out.next()
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}
