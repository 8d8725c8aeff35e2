package graft.plans

import java.util.{PriorityQueue => JPriorityQueue}

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, Expression, GreaterThan, GreaterThanOrEqual, IntegerLiteral, IsNotNull, LessThan, LessThanOrEqual, RowNumber, SortOrder, UnsafeProjection, UnsafeRow, WindowExpression, WindowSpecDefinition}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, UnaryNode, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graftbridge.Bridge

/** Whole-operator Catalyst extension (the (c) tier of the custom-operator
  * preference order): per-group top-k as a first-class physical operator.
  *
  * The built-in formulation (q08: `row_number() OVER (PARTITION BY g
  * ORDER BY o) <= k`, WindowExec) must FULLY SORT every group before it
  * can number rows — O(n log n) per partition and a complete sort buffer
  * even though only k rows per group survive. This operator keeps a
  * bounded k-element heap per group — O(n log k) time, O(groups·k)
  * memory — the same asymptotic win TakeOrderedAndProject delivers for
  * global top-k (q11), generalized to grouped data.
  *
  * Wiring: logical node → [[TopKPerGroupStrategy]] → a PARTIAL
  * [[TopKPerGroupExec]] (no distribution requirement: each input
  * partition is reduced to ≤ k rows per group map-side, the top-k analog
  * of partial aggregation — top-k of the union of per-partition top-ks
  * IS the global top-k) feeding a FINAL exec whose
  * `requiredChildDistribution` is `ClusteredDistribution(group)`, so
  * EnsureRequirements plans exactly one hash shuffle — carrying at most
  * partitions·groups·k rows instead of the full input (at 100 TB the
  * difference between shuffling k rows per group per map task and
  * shuffling the dataset).
  * `graft.GraftSession.install` adds the strategy to every session
  * before a query is built.
  */
final case class TopKPerGroup(
    groupExprs: Seq[Expression],
    ordering: Seq[SortOrder],
    k: Int,
    child: LogicalPlan,
) extends UnaryNode {
  require(k > 0, s"k must be positive, got $k")
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerGroup =
    copy(child = newChild)
}

final case class TopKPerGroupExec(
    groupExprs: Seq[Expression],
    ordering: Seq[SortOrder],
    k: Int,
    partial: Boolean,
    child: SparkPlan,
) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  // Final pass: one hash shuffle on the group key (no sort — the heap
  // replaces it). Partial pass: runs in place on whatever partitioning
  // the child has, shrinking each partition to ≤ k rows per group before
  // the exchange.
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) super.requiredChildDistribution
    else Seq(ClusteredDistribution(groupExprs))

  // The heap filter drops rows but never moves them, so the child's
  // partitioning survives (doExecute's preservesPartitioning at the RDD
  // level). Without this override the partial node would report
  // UnknownPartitioning and force a redundant Exchange even when the
  // input is already hash-partitioned on the group key.
  override def outputPartitioning: org.apache.spark.sql.catalyst.plans.physical.Partitioning =
    child.outputPartitioning

  override def nodeName: String =
    if (partial) "TopKPerGroupPartial" else "TopKPerGroup"

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val groupE      = groupExprs
    val orderE      = ordering
    val limit       = k
    child.execute().mapPartitions({ rows =>
      val groupProj = UnsafeProjection.create(groupE, childOutput)
      val cmp       = GenerateOrdering.generate(orderE, childOutput)
      // Max-heap of the k smallest-by-ordering rows per group: the head is
      // the WORST retained row, evicted when a better one arrives.
      val heaps = mutable.LinkedHashMap.empty[UnsafeRow, JPriorityQueue[UnsafeRow]]
      rows.foreach { row =>
        val key = groupProj(row)
        val heap = heaps.getOrElseUpdate(
          key.copy(),
          new JPriorityQueue[UnsafeRow](limit + 1, cmp.reversed()))
        if (heap.size < limit) {
          heap.add(row.copy().asInstanceOf[UnsafeRow])
        } else if (cmp.compare(row, heap.peek()) < 0) {
          heap.poll()
          heap.add(row.copy().asInstanceOf[UnsafeRow])
        }
      }
      heaps.iterator.flatMap { case (_, heap) =>
        val buf = new Array[UnsafeRow](heap.size)
        var i   = heap.size - 1
        while (i >= 0) { buf(i) = heap.poll(); i -= 1 } // best-first
        buf.iterator
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerGroupExec =
    copy(child = newChild)
}

object TopKPerGroupStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroup(group, order, k, child) =>
      // Two-phase: partial (map-side, pre-shuffle) then final (clustered)
      // — selection is monotone, so top-k ∘ union ∘ per-partition-top-k
      // equals global top-k exactly.
      TopKPerGroupExec(group, order, k, partial = false,
        TopKPerGroupExec(group, order, k, partial = true,
          planLater(child))) :: Nil
    case _ => Nil
  }
}

/** Optimizer rewrite completing the extension-tier set (expression →
  * aggregate → generator → strategy → RULE): the ubiquitous window-top-k
  * idiom — `row_number() OVER (PARTITION BY g ORDER BY o) AS rk` filtered
  * to `rk <= k` with the rank column then discarded — is exactly
  * [[TopKPerGroup]]'s semantics, but WindowExec pays a full per-group
  * sort for it. This rule recognizes the idiom POST-optimization (it
  * runs in the User Provided Optimizers batch, where
  * `graft.GraftSession.install` puts it on every session before a query
  * is built) and swaps in the bounded-heap plan, so every query writing
  * the textbook formulation gets the O(n log k) /
  * shuffle-k-rows-per-group physical operator for free.
  *
  * The match is deliberately conservative — it fires only when:
  *  - the window computes a SINGLE row_number (rank()/dense_rank() keep
  *    ties past k, which a k-heap cannot represent);
  *  - the filter is `rk <= k` / `rk < k` / flipped, plus at most an
  *    `isnotnull(rk)` conjunct (anything else must keep the Filter);
  *  - the Project above discards the rank column (if rank survives,
  *    downstream needs the numbering, not just membership);
  *  - the partition spec is non-empty (global top-k already plans as
  *    TakeOrderedAndProject, q11). */
object WindowTopKRewrite extends Rule[LogicalPlan] {

  /** Split `cond` into (limit k, leftovers): k from the unique rank-limit
    * conjunct, leftovers = conjuncts other than that and isnotnull(rank). */
  private def rankLimit(
      cond: Expression, rank: Attribute): (Option[Int], Seq[Expression]) = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case o         => Seq(o)
    }
    def limitOf(e: Expression): Option[Int] = e match {
      case LessThanOrEqual(a: Attribute, IntegerLiteral(k))
        if a.semanticEquals(rank) => Some(k)
      case LessThan(a: Attribute, IntegerLiteral(k))
        if a.semanticEquals(rank) => Some(k - 1)
      case GreaterThanOrEqual(IntegerLiteral(k), a: Attribute)
        if a.semanticEquals(rank) => Some(k)
      case GreaterThan(IntegerLiteral(k), a: Attribute)
        if a.semanticEquals(rank) => Some(k - 1)
      case _ => None
    }
    val cs     = conjuncts(cond)
    val limits = cs.flatMap(c => limitOf(c).map(c -> _))
    val keep = cs.filterNot { c =>
      limits.exists(_._1 eq c) ||
        (c match {
          case IsNotNull(a: Attribute) => a.semanticEquals(rank)
          case _                       => false
        })
    }
    (if (limits.size == 1) Some(limits.head._2) else None, keep)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case p @ Project(projectList,
        Filter(cond,
          Window(Seq(alias @ Alias(WindowExpression(RowNumber(),
            WindowSpecDefinition(part, order, _)), _)), _, _, child, _)))
        if part.nonEmpty && {
          val rank          = alias.toAttribute
          val (k, leftover) = rankLimit(cond, rank)
          k.exists(_ > 0) && leftover.isEmpty &&
            projectList.forall(!_.references.contains(rank))
        } =>
      val k = rankLimit(cond, alias.toAttribute)._1.get
      // Spark's own InferWindowGroupLimit (3.5+) has usually already
      // planted a WindowGroupLimit below the Window from the same rank
      // predicate; the heap subsumes that pre-filter, so unwrap it
      // rather than double-filtering.
      val input = child match {
        case WindowGroupLimit(_, _, _, limit, grandchild) if limit == k =>
          grandchild
        case other => other
      }
      Project(projectList, TopKPerGroup(part, order, k, input))
  }
}

object TopK {

  /** Per-group top-k over `df`: for each distinct value of `groupCols`,
    * the `k` first rows under `orderCols` (include tie-breaker columns
    * for determinism, exactly as a window formulation would need). */
  def perGroup(
      spark: SparkSession,
      df: DataFrame,
      groupCols: Seq[Column],
      orderCols: Seq[Column],
      k: Int): DataFrame = {
    val analyzed = df.queryExecution.analyzed
    val order = orderCols.map(Bridge.expr(spark, _)).map {
      case s: SortOrder => s
      case e            => SortOrder(e, org.apache.spark.sql.catalyst.expressions.Ascending)
    }
    Bridge.ofRows(
      spark,
      TopKPerGroup(groupCols.map(Bridge.expr(spark, _)), order, k, analyzed))
  }
}
