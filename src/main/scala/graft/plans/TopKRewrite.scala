package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule that turns the DECLARATIVE per-key top-k idiom —
  *
  *   `row_number() OVER (PARTITION BY p ORDER BY o) AS rn` …
  *   `WHERE rn <= k` … followed by dropping `rn`
  *
  * — into the bounded-heap [[TopKPerKeyNode]] automatically, so a user
  * who writes the textbook window form gets the custom operator's plan
  * (partial heaps → one ≤|keys|·k-row exchange → final heaps) instead
  * of Exchange → full per-key Sort → Window → Filter. Spark's own
  * `InferWindowGroupLimit` only inserts a row-pass-through limit BELOW
  * the window (the sort and the window still run); this rule removes
  * them entirely — the (c)-rung operator made reachable from the (a)
  * API surface.
  *
  * Rewrite fires only when it is semantics-preserving:
  *  - the window computes exactly ONE expression and it is
  *    `row_number()` (rank()/dense_rank() tie semantics differ — a
  *    heap cannot represent "keep all peers of rank k");
  *  - the filter bounds that attribute from above by an integer
  *    literal (`rn <= k`, `rn < k`, `rn = 1`, flipped comparisons);
  *    other conjuncts move ABOVE the rewritten node (post-rank
  *    filtering semantics preserved) — except deterministic predicates
  *    on the PARTITION KEYS alone, which push BELOW the heap (dropping
  *    whole groups never changes another group's top-k; normally
  *    Spark's own pushdown has already moved those through the Window,
  *    this covers the orderings where it hasn't);
  *  - the enclosing Project references only the window CHILD's columns
  *    — the rank value itself must be dead, because the heap never
  *    materializes it;
  *  - partition and order specs are non-empty (an empty partition is
  *    the global-top-k case Spark already plans as
  *    TakeOrderedAndProject).
  *
  * Output row SET equals the window form whenever the ordering is
  * total (the repo's tiebreaker rule); like every per-key reduction in
  * the repo, intra-group order is unspecified and callers sort.
  * Installed per-session by `GraftExtensions.install` (post-hoc
  * `experimental.extraOptimizations`) or cluster-wide through
  * `GraftExtensions`. If `InferWindowGroupLimit` already ran, its
  * `WindowGroupLimit` child is recognized and stripped (it passes
  * through a superset of the answer; the heap recomputes exactly).
  */
object TopKRewrite extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case p @ Project(projectList, Filter(cond, w: Window)) =>
      rewrite(projectList, cond, w).getOrElse(p)
  }

  private def rewrite(projectList: Seq[NamedExpression], cond: Expression,
      w: Window): Option[LogicalPlan] = {
    val rankAttr = w.windowExpressions match {
      case Seq(a @ Alias(WindowExpression(RowNumber(), _), _)) =>
        a.toAttribute
      case _ => return None
    }
    if (w.partitionSpec.isEmpty || w.orderSpec.isEmpty) return None
    // the project must not need the rank value
    if (projectList.exists(_.references.contains(rankAttr))) return None

    val conjuncts = splitConjuncts(cond)
    val (onRank, rest) = conjuncts.partition(_.references.contains(rankAttr))
    val bounds = onRank.map(bound(rankAttr, _))
    if (bounds.isEmpty || bounds.exists(_.isEmpty)) return None
    val kL = bounds.flatten.min // Long: `rn < Int.MinValue` must not wrap
    if (kL < 1) return None // statically empty — leave for the optimizer
    val k = kL.toInt // in [1, Int.MaxValue]: every bound came from an Int

    // InferWindowGroupLimit may already have inserted its pass-through
    // limit below the window; the heap recomputes the exact answer, so
    // the superset filter is redundant — strip it when it matches. Only
    // a row_number() limit of AT LEAST k is a guaranteed superset; a
    // rank-like or tighter one (no rule emits those today) must stay.
    val base = w.child match {
      case WindowGroupLimit(ps, os, RowNumber(), limit, c)
          if ps == w.partitionSpec && os == w.orderSpec && limit >= k => c
      case c => c
    }
    // Residual predicates on the PARTITION KEYS alone push BELOW the
    // heap (dropping whole groups never changes another group's top-k
    // — the same argument Spark uses to push filters through Window);
    // anything else must stay above, because it sees post-rank rows.
    val keyAttrs = AttributeSet(
      w.partitionSpec.collect { case a: Attribute => a })
    val (onKeys, above) = rest.partition(p =>
      p.deterministic && p.references.subsetOf(keyAttrs))
    val base2 =
      if (onKeys.isEmpty) base
      else Filter(onKeys.reduce(And), base)
    val topk = TopKPerKeyNode(w.partitionSpec, w.orderSpec, k, base2)
    val filtered =
      if (above.isEmpty) topk
      else Filter(above.reduce(And), topk)
    Some(Project(projectList, filtered))
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  /** `Some(k)` when `e` is an upper bound `rank <= k` in any of the
    * accepted spellings, `None` when it is some other use of the rank
    * attribute (which blocks the rewrite). Long arithmetic: `rn <
    * Int.MinValue` is a statically-empty predicate, and an Int `k - 1`
    * would wrap it to top-Int.MaxValue instead of letting the `< 1`
    * guard reject it. */
  private def bound(rank: Attribute, e: Expression): Option[Long] = e match {
    case LessThanOrEqual(a: Attribute, IntegerLiteral(k)) if a.semanticEquals(rank) => Some(k.toLong)
    case LessThan(a: Attribute, IntegerLiteral(k)) if a.semanticEquals(rank) => Some(k.toLong - 1)
    case GreaterThanOrEqual(IntegerLiteral(k), a: Attribute) if a.semanticEquals(rank) => Some(k.toLong)
    case GreaterThan(IntegerLiteral(k), a: Attribute) if a.semanticEquals(rank) => Some(k.toLong - 1)
    case EqualTo(a: Attribute, IntegerLiteral(1)) if a.semanticEquals(rank) => Some(1L)
    case EqualTo(IntegerLiteral(1), a: Attribute) if a.semanticEquals(rank) => Some(1L)
    case _ => None
  }
}
