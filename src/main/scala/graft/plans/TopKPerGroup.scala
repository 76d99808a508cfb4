package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, UnaryNode, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Whole-operator extension (SURVEY §7.3(c)): native bounded top-k per
  * group replacing the `row_number().over(...) <= k` rank-and-filter
  * pattern.
  *
  * Why: the window spelling shuffles EVERY row to its group's partition
  * and sorts the whole partition, then throws away all but k rows — at
  * 100 TB that is a full-corpus shuffle + sort for a k·groups-row answer.
  * This operator runs in two phases like a hash aggregate: a PARTIAL pass
  * keeps a ≤k bounded buffer per group per input partition (map-side
  * pruning — the shuffle then carries at most k·groups·partitions rows,
  * independent of input size), and a FINAL pass after the exchange merges
  * survivors and emits ranks. No full sort ever happens; per-group cost is
  * O(n·log k) against the window's O(n·log n).
  *
  * Users keep writing the DECLARATIVE window form; [[TopKRewrite]] swaps
  * the plan of a frame that asks for it ([[TopK.rewrite]]) when the filter
  * bounds a bare `row_number()` by a literal — the same declarative-in/
  * kernel-out contract as [[KernelSubstitution]]. Determinism contract
  * unchanged: the window's ORDER BY must carry a unique tiebreaker (true
  * of every declared query, SURVEY §7.4). */
case class TopKPerGroupNode(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    rnAttr: Attribute,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ rnAttr
  override def producedAttributes: AttributeSet = AttributeSet(rnAttr)
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerGroupNode =
    copy(child = newChild)
}

/** Two-phase physical top-k. `partial = true` runs before the exchange
  * (no required distribution, output = child schema); the final phase
  * requires clustering on the group keys — EnsureRequirements inserts the
  * one hash exchange between the phases, exactly as it does for partial/
  * final hash aggregation. */
case class TopKPerGroupExec(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    rnAttr: Attribute,
    partial: Boolean,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] =
    if (partial) child.output else child.output :+ rnAttr
  // rnAttr is minted here, not read from the child: without this the
  // plan string marks the node as missing input (`!TopKPerGroup`)
  override def producedAttributes: AttributeSet = AttributeSet(rnAttr)

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else if (groupExprs.isEmpty) AllTuples :: Nil
    else ClusteredDistribution(groupExprs) :: Nil

  override def outputPartitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val g = groupExprs
    val ord = order
    val limit = k
    val isPartial = partial
    val outAttrs = output
    child.execute().mapPartitions { it =>
      val keyProj = UnsafeProjection.create(g, childOutput)
      val rowOrd = RowOrdering.create(ord, childOutput)
      val groups = mutable.LinkedHashMap.empty[UnsafeRow, mutable.ArrayBuffer[InternalRow]]
      while (it.hasNext) {
        val row = it.next()
        val buf = groups.getOrElseUpdate(keyProj(row).copy(),
          new mutable.ArrayBuffer[InternalRow](limit + 1))
        if (buf.size < limit || rowOrd.compare(row, buf.last) < 0) {
          val copy = row.copy()
          // bounded insertion keeps the buffer sorted; k is small by the
          // rewrite's cap, so linear insert beats heap constant factors
          var i = buf.size
          buf += copy
          while (i > 0 && rowOrd.compare(copy, buf(i - 1)) < 0) {
            buf(i) = buf(i - 1); i -= 1
          }
          buf(i) = copy
          if (buf.size > limit) buf.remove(limit)
        }
      }
      if (isPartial) groups.valuesIterator.flatMap(_.iterator)
      else {
        val outProj = UnsafeProjection.create(outAttrs, outAttrs)
        val joined = new JoinedRow
        groups.valuesIterator.flatMap { buf =>
          buf.iterator.zipWithIndex.map { case (r, i) =>
            outProj(joined(r, InternalRow(i + 1)))
          }
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerGroupExec =
    copy(child = newChild)
}

/** Optimizer rule: `Filter(rn ≤ lit ∧ …, Window[rn := row_number() over
  * (partition by … order by …)])` → [[TopKPerGroupNode]] (with any
  * residual conjuncts kept as a Filter above the node). Fires only on
  * the safe shape: a single bare row_number window expression, the
  * default running row frame, a literal bound ≤ 1000 (the bounded-buffer
  * sweet spot — past that the generic window path is the right plan).
  * Handling conjunctions matters in practice: predicate inference loves
  * to AND an `isnotnull(col)` (implied by a later join condition) into
  * the rank filter, and a rule that only matches the bare bound silently
  * falls back to the full sort — found via q_theta_sketch, whose
  * sketch-vs-sketch join did exactly that. Residual conjuncts may even
  * reference the rank column: the node emits it, so they filter above.
  *
  * Relationship to Spark's own `InferWindowGroupLimit` (3.5+): the
  * built-in inserts a WindowGroupLimit that PRUNES each side of the
  * exchange to k rows per group but still SORTS every input partition and
  * still runs the full WindowExec to compute the rank afterwards. This
  * operator subsumes both: bounded buffers instead of sorts, rank emitted
  * directly. The rule therefore strips the inferred WindowGroupLimit
  * (same partition/order keys) from below the matched Window.
  *
  * It is applied to one frame's optimized plan ([[TopK.rewrite]]), never
  * installed in a session: a session-wide rule would change the plan of
  * every window top-k that runs there, asked for or not. */
object TopKRewrite extends Rule[LogicalPlan] with PredicateHelper {

  /** `rn <= 5L` analyzes as `Cast(rn AS BIGINT) <= 5L` (row_number is
    * IntegerType, so a wider literal widens the attribute side) — unwrap
    * that implicit widening cast, or the intended top-k silently falls
    * back to the full window sort with no audit signal. */
  private def rankSide(e: Expression, rn: Attribute): Boolean = e match {
    case a: Attribute => a.semanticEquals(rn)
    case Cast(a: Attribute, dt, _, _)
        if dt == LongType || dt == IntegerType || dt == ShortType =>
      a.semanticEquals(rn)
    case _ => false
  }

  private def intLit(e: Expression): Option[Long] = e match {
    case Literal(v: Int, IntegerType) => Some(v.toLong)
    case Literal(v: Long, LongType) => Some(v)
    case Literal(v: Short, ShortType) => Some(v.toLong)
    case Literal(v: Byte, ByteType) => Some(v.toLong)
    case _ => None
  }

  private def boundOf(cond: Expression, rn: Attribute): Option[Int] = {
    // k > 1000 is rejected by the caller anyway; clamping here just keeps
    // the Long→Int narrowing total.
    def toK(v: Long): Option[Int] =
      if (v < 1 || v > Int.MaxValue) None else Some(v.toInt)
    cond match {
      case LessThanOrEqual(a, l) if rankSide(a, rn) => intLit(l).flatMap(toK)
      case LessThan(a, l) if rankSide(a, rn) => intLit(l).flatMap(v => toK(v - 1))
      case GreaterThanOrEqual(l, a) if rankSide(a, rn) => intLit(l).flatMap(toK)
      case GreaterThan(l, a) if rankSide(a, rn) => intLit(l).flatMap(v => toK(v - 1))
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, w: Window) if w.windowExpressions.size == 1 =>
      w.windowExpressions.head match {
        case a @ Alias(WindowExpression(_: RowNumber,
            WindowSpecDefinition(_, _,
              SpecifiedWindowFrame(org.apache.spark.sql.catalyst.expressions.RowFrame,
                                   UnboundedPreceding, CurrentRow))), _) =>
          val rn = a.toAttribute
          val conjuncts = splitConjunctivePredicates(cond)
          val bounds = conjuncts.flatMap(boundOf(_, rn))
          // every bound conjunct is implied by the node's k = min(bounds);
          // anything else stays as a residual filter above the node
          val rest = conjuncts.filter(boundOf(_, rn).isEmpty)
          bounds.reduceOption(_ min _) match {
            case Some(k) if k > 0 && k <= 1000 =>
              val child = w.child match {
                case wgl: WindowGroupLimit
                    if wgl.partitionSpec == w.partitionSpec &&
                       wgl.orderSpec == w.orderSpec => wgl.child
                case other => other
              }
              val node = TopKPerGroupNode(w.partitionSpec, w.orderSpec, k, rn, child)
              if (rest.isEmpty) node else Filter(rest.reduce(And), node)
            case _ => f
          }
        case _ => f
      }
  }
}

/** Planning strategy for the rewritten node — emits the partial/final
  * pair; EnsureRequirements supplies the exchange between them. It plans
  * nothing else, so every engine session carries it
  * ([[graft.functions.GraftExtensions]]). */
object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroupNode(g, o, k, rn, child) =>
      val partial = TopKPerGroupExec(g, o, k, rn, partial = true, planLater(child))
      TopKPerGroupExec(g, o, k, rn, partial = false, partial) :: Nil
    case _ => Nil
  }
}

object TopK {
  /** `df` with [[TopKRewrite]] applied to its own optimized plan, rebuilt
    * as a new frame ([[org.apache.spark.sql.graft.Frames]]) that plans
    * through [[TopKStrategy]]. The session is left as it was, so the
    * rewrite reaches this frame and what is built on it, and no other
    * query. Apply it before a frame is cut ([[org.apache.spark.sql.graft.PlanCut]]):
    * the cut's rows are planned already. */
  def rewrite(df: DataFrame): DataFrame =
    org.apache.spark.sql.graft.Frames.ofRows(
      df.sparkSession, TopKRewrite(df.queryExecution.optimizedPlan))
}
