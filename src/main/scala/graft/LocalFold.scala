package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, Expression, GenericInternalRow, IntegerLiteral, InterpretedMutableProjection, JoinedRow, Predicate}
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.plans.InnerLike
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, Join, Limit, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.LOCAL_RELATION

/** Folds a plan over local relations into one `LocalRelation` on the
  * driver, carrying Spark's `ConvertToLocalRelation` through `Generate`
  * and inner `Join`: a query whose leaves are all local data then
  * collects with no Spark job and no generated code. Serving a request
  * from a bounded model table (`SeasonalModel.predict` over the request's
  * window) is such a query.
  *
  * Bottom-up, in one pass, over non-streaming local relations:
  *   - `Project`, `Filter` and `Limit`, as `ConvertToLocalRelation` folds
  *     them;
  *   - `Generate`: each input row, then its generated rows (a null row
  *     for an `outer` generator that yields none), in input order;
  *   - inner `Join`: every (left, right) pair whose condition holds,
  *     left-row-major — the order of a join streaming its left side.
  *
  * Every expression is evaluated with Spark's interpreted projection and
  * predicate, so folding compiles nothing, and it must be deterministic
  * and evaluable (`ConvertToLocalRelation.hasUnevaluableExpr`). A
  * `Generate` or `Join` is left as it is when its result could exceed
  * `spark.sql.autoBroadcastJoinThreshold`, the size Spark already agrees
  * to hold on the driver, measured as Spark sizes a `LocalRelation`: a
  * generator stops once its output passes the bound; a join folds only
  * when every pair it would test fits, so the nested loop stays within
  * the same bound. A generator whose `terminate` emits rows (a Hive
  * UDTF's, which runs once per partition) is not folded.
  */
object LocalFold extends Rule[LogicalPlan] {

  def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUpWithPruning(_.containsPattern(LOCAL_RELATION)) {
      case Project(list, LocalRelation(in, data, false, _)) if list.forall(evaluable) =>
        val project = projection(list, in)
        LocalRelation(list.map(_.toAttribute), data.map(project))

      case Filter(condition, LocalRelation(in, data, false, _)) if evaluable(condition) =>
        val keep = predicate(condition, in)
        LocalRelation(in, data.filter(keep))

      case Limit(IntegerLiteral(n), LocalRelation(in, data, false, _)) =>
        LocalRelation(in, data.take(n))

      case g @ Generate(generator, _, outer, _, generated, LocalRelation(in, data, false, _))
          if evaluable(generator) =>
        val gen = BindReferences.bindReference(generator, in)
        val nulls = new GenericInternalRow(generated.length)
        val joined = new JoinedRow
        val project = projection(g.output, in ++ generated)
        val budget = rowBudget(g.output)
        val rows = data.iterator.flatMap { row =>
          val out = gen.eval(row).iterator
          (if (outer && !out.hasNext) Iterator.single(nulls) else out).map(o => project(joined(row, o)))
        }.take(budget + 1).toVector
        if (rows.length > budget || gen.terminate().iterator.nonEmpty) g
        else LocalRelation(g.output, rows)

      case j @ Join(LocalRelation(l, left, false, _), LocalRelation(r, right, false, _), _: InnerLike, condition, _)
          if condition.forall(evaluable) && left.length.toLong * right.length <= rowBudget(j.output) =>
        val keep = condition.fold((_: InternalRow) => true)(predicate(_, l ++ r))
        val project = projection(j.output, l ++ r)
        val joined = new JoinedRow
        LocalRelation(j.output, for (a <- left; b <- right if keep(joined(a, b))) yield project(joined(a, b)))
    }

  private def evaluable(e: Expression): Boolean =
    e.deterministic && !ConvertToLocalRelation.hasUnevaluableExpr(e)

  private def projection(exprs: Seq[Expression], in: Seq[Attribute]): InternalRow => InternalRow = {
    val p = new InterpretedMutableProjection(exprs, in)
    p.initialize(0)
    row => p(row).copy()
  }

  private def predicate(condition: Expression, in: Seq[Attribute]): InternalRow => Boolean = {
    val p = Predicate.createInterpreted(BindReferences.bindReference(condition, in))
    p.initialize(0)
    p.eval
  }

  /** Rows of `output` that fit the broadcast threshold; 0 when it is off. */
  private def rowBudget(output: Seq[Attribute]): Int = {
    val bytes = conf.autoBroadcastJoinThreshold
    if (bytes <= 0) 0 else (BigInt(bytes) / EstimationUtils.getSizePerRow(output)).min(Int.MaxValue - 1).toInt
  }
}
