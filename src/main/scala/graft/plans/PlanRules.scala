package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, EqualNullSafe, Expression, ExpressionSet, KnownFloatingPointNormalized, NamedExpression, SortOrder}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.optimizer.NormalizeNaNAndZero
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, JoinHint, LocalLimit, LogicalPlan, Offset, Project, RepartitionByExpression, Sort, Tail, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.{AGGREGATE, SORT}
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, MapType, StructType}

/** Plan-shape rules for riptable's group and window kernels, installed by
  * [[GraftExtensions]] in the optimizer's once-only pre-CBO batch. Each
  * fires on a property of the plan alone; none has a switch. To compare a
  * plan with and without one, exclude it by name with Spark's own
  * `spark.sql.optimizer.excludedRules`.
  */

/** Splits a single-DISTINCT aggregate off its object-buffer aggregates.
  *
  * Spark plans `groupBy(k).agg(percentile(v, q), count_distinct(d))` as
  * one aggregate keyed on `(k, d)` first, so every `(k, d)` pair carries
  * its own `percentile` buffer through two exchanges — thousands of
  * object buffers for 3 keys, which also push `ObjectHashAggregate` into
  * its sort fallback. Riptable hashes once and packs once per kernel
  * (`rt_grouping.py:417`); the equivalent here is two aggregates over the
  * same child — the non-distinct part keyed on `k` alone, the distinct
  * part on its own — joined on the keys with null-safe equality (a
  * global aggregate joins two one-row sides) under the original result
  * expressions.
  *
  * Fires when the aggregate has exactly one distinct-argument group with
  * no FILTER, at least one non-distinct `TypedImperativeAggregate`, and a
  * deterministic child (the child is evaluated twice).
  */
object SplitDistinctAggregate extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithPruning(_.containsPattern(AGGREGATE)) {
      case a: Aggregate if splittable(a) => split(a)
    }

  private def aggregates(a: Aggregate): Seq[AggregateExpression] =
    a.aggregateExpressions
      .flatMap(_.collect { case ae: AggregateExpression => ae })
      .distinctBy(_.canonicalized)

  private def splittable(a: Aggregate): Boolean = {
    val (distinct, plain) = aggregates(a).partition(_.isDistinct)
    distinct.nonEmpty && distinct.forall(_.filter.isEmpty) &&
      distinct.map(ae =>
        ExpressionSet(ae.aggregateFunction.children.filterNot(_.foldable))).distinct.size == 1 &&
      plain.exists(_.aggregateFunction.isInstanceOf[TypedImperativeAggregate[_]]) &&
      a.child.deterministic
  }

  private def split(a: Aggregate): LogicalPlan = {
    val keys = a.groupingExpressions
    // one side per aggregate kind; the distinct side renames its keys so
    // the join's two outputs stay disjoint
    def side(aggs: Seq[AggregateExpression], renameKeys: Boolean) = {
      val keyOut: Seq[NamedExpression] = keys.zipWithIndex.map {
        case (k: Attribute, _) if !renameKeys => k
        case (k, i) => Alias(k, s"_key$i")()
      }
      val aggOut = aggs.map(ae => ae -> Alias(ae, "_agg")())
      (a.copy(aggregateExpressions = keyOut ++ aggOut.map(_._2)),
        keyOut.map(_.toAttribute), aggOut)
    }
    val (distinct, plain) = aggregates(a).partition(_.isDistinct)
    val (left, leftKeys, leftAggs) = side(plain, renameKeys = false)
    val (right, rightKeys, rightAggs) = side(distinct, renameKeys = true)
    val cond = leftKeys.zip(rightKeys)
      .map { case (l, r) => EqualNullSafe(l, r): Expression }.reduceOption(And)
    val aggAttr = (leftAggs ++ rightAggs)
      .map { case (ae, al) => ae.canonicalized -> al.toAttribute }.toMap
    val keyAttr = keys.map(_.canonicalized).zip(leftKeys).toMap
    val results = a.aggregateExpressions.map { ne =>
      ne.transformDown {
        case ae: AggregateExpression => aggAttr(ae.canonicalized)
        case e if keyAttr.contains(e.canonicalized) => keyAttr(e.canonicalized)
      } match {
        case n: NamedExpression if n.exprId == ne.exprId => n
        case other => Alias(other, ne.name)(exprId = ne.exprId, qualifier = ne.qualifier)
      }
    }
    Project(results, Join(left, right, Inner, cond, JoinHint.NONE))
  }
}

/** Range-partitions a window that feeds its own global sort.
  *
  * `df.withColumn(c, f.over(partitionBy(k)...)).orderBy(k, ...)` plans a
  * hash exchange on `k` for the window, then a range exchange and a sort
  * for the `orderBy`. When the sort's leading keys are exactly the
  * window's partition keys (as a set), one range exchange on that sort
  * prefix serves both: it clusters each window partition in one task
  * (so `EnsureRequirements` adds no hash exchange) and orders the
  * partitions for the sort, whose remaining within-partition order the
  * window's own sort usually already provides (`RemoveRedundantSorts`
  * then drops it).
  *
  * Fires on a global `Sort` — not one feeding a limit, offset or tail,
  * which plan as a top-k instead — seen through `Project`, `Filter` or
  * stacked windows of the same partitioning, whose leading sort keys are
  * the partition keys of the window below. The repartition goes under the
  * bottom window of the stack; a stack whose bottom child already is a
  * repartition is left alone, so the rule is idempotent.
  *
  * Float and double keys are normalized (NaN, -0.0) in the window
  * partitioning, the repartition and the sort prefix alike, as
  * `NormalizeFloatingNumbers` would do to the window alone; ordering
  * already treats those values as equal, so the sort's result is the
  * same. Windows keyed on nested types are left alone.
  */
object RangePartitionSortedWindow extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!plan.containsPattern(SORT)) return plan
    val topK = plan.collect {
      case LocalLimit(_, s: Sort) => s
      case LocalLimit(_, Project(_, s: Sort)) => s
      case Offset(_, s: Sort) => s
      case Tail(_, s: Sort) => s
    }
    plan.transformDown {
      case s: Sort if s.global && !topK.exists(_ eq s) =>
        val keys = partitionKeys(s.child)
        val prefix = s.order.take(keys.size)
        val normal = prefix.flatMap(o => normalized(o.child).map(n => o.copy(child = n)))
        if (keys.isEmpty || ExpressionSet(prefix.map(_.child)) != keys ||
            normal.size < prefix.size) s
        else fuse(normal, keys, s.child)
          .map(c => s.copy(order = normal ++ s.order.drop(keys.size), child = c))
          .getOrElse(s)
    }
  }

  /** Partition keys of the first window below `Project`s and `Filter`s. */
  private def partitionKeys(plan: LogicalPlan): ExpressionSet = plan match {
    case p: Project => partitionKeys(p.child)
    case f: Filter => partitionKeys(f.child)
    case w: Window => ExpressionSet(w.partitionSpec)
    case _ => ExpressionSet(Nil)
  }

  private def normalized(e: Expression): Option[Expression] = e match {
    case k: KnownFloatingPointNormalized => Some(k)
    case _ => e.dataType match {
      case FloatType | DoubleType => Some(KnownFloatingPointNormalized(NormalizeNaNAndZero(e)))
      case _: StructType | _: ArrayType | _: MapType => None
      case _ => Some(e)
    }
  }

  /** `plan` with the windows over `keys` repartitioned on `prefix` under
    * the bottom one; None when that window already sits on a repartition.
    */
  private def fuse(prefix: Seq[SortOrder], keys: ExpressionSet,
                   plan: LogicalPlan): Option[LogicalPlan] = plan match {
    case p: Project => fuse(prefix, keys, p.child).map(c => p.copy(child = c))
    case f: Filter => fuse(prefix, keys, f.child).map(c => f.copy(child = c))
    case w: Window if ExpressionSet(w.partitionSpec) == keys =>
      val below =
        if (partitionKeys(w.child) == keys) fuse(prefix, keys, w.child)
        else w.child match {
          case _: RepartitionByExpression => None
          case c => Some(RepartitionByExpression(prefix, c, None))
        }
      below.map(c => w.copy(partitionSpec = w.partitionSpec.map(k => normalized(k).get), child = c))
    case _ => None
  }
}
