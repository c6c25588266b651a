package graft.sources

import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression, IntegerLiteral, InterpretedMutableProjection, InterpretedOrdering, InterpretedPredicate}
import org.apache.spark.sql.catalyst.optimizer.{ConvertToLocalRelation, EliminateSorts}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, GlobalLimit, LocalLimit, LocalRelation, LogicalPlan, Project, Repartition, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.LOCAL_RELATION

/** Folds a whole sort-shaped plan over one driver-local relation into a
  * single `LocalRelation`, so it collects from a `LocalTableScanExec`
  * with no Spark job and no whole-stage code generation. Spark's own
  * [[ConvertToLocalRelation]] folds Project, Filter and Limit one node at
  * a time; this rule adds the global Sort (stable, by an
  * `InterpretedOrdering`) and coalesce(1) (`Repartition(1, shuffle =
  * false)`).
  *
  * Two callers. [[graft.CdxServer]] calls [[fold]] directly on each
  * driver-local sort-shaped lookup: its description, analyzed once per
  * server, over the lines its block reader kept, so the lookup is
  * evaluated here in any session and returns only its result rows.
  * Registered by [[graft.functions.GraftExtensions]], the rule folds the
  * same way the plans composed over those rows (`withFilter`,
  * `withFields`, `pageByKey`, a caller's own sort or limit).
  *
  * All or nothing: a plan holding any other node (Window, Aggregate,
  * Join, ...), a nondeterministic or unevaluable expression, or a
  * streaming relation comes back exactly as it was. Its coalesce(1) then
  * still hands the operators above a single partition, where dropping it
  * alone would plan a range exchange under the Sort. */
object FoldLocalRelation extends Rule[LogicalPlan] {

  // Spark's EliminateSorts runs in a later batch than this rule: applied
  // first here, a sort made irrelevant by the sort above it is dropped
  // before folding, so ties keep the order they have under Spark
  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!plan.containsPattern(LOCAL_RELATION)) plan
    else fold(EliminateSorts(plan)).getOrElse(plan)

  private def evaluable(es: Seq[Expression]): Boolean =
    es.forall(e => e.deterministic && !ConvertToLocalRelation.hasUnevaluableExpr(e))

  /** the plan's rows as one relation, or None when any node cannot fold */
  def fold(plan: LogicalPlan): Option[LocalRelation] = plan match {
    case r: LocalRelation => if (r.isStreaming) None else Some(r)
    case Repartition(1, false, child) => fold(child)
    case GlobalLimit(IntegerLiteral(n), child) => fold(child).map(r => r.copy(data = r.data.take(n)))
    case LocalLimit(IntegerLiteral(n), child) => fold(child).map(r => r.copy(data = r.data.take(n)))
    case Filter(cond, child) if evaluable(Seq(cond)) => fold(child).map { r =>
      val pred = InterpretedPredicate(BindReferences.bindReference(cond, r.output))
      pred.initialize(0)
      r.copy(data = r.data.filter(pred.eval))
    }
    case Project(list, child) if evaluable(list) => fold(child).map { r =>
      val proj = new InterpretedMutableProjection(list, r.output)
      proj.initialize(0)
      r.copy(output = plan.output, data = r.data.map(proj(_).copy()))
    }
    // Seq.sorted is a stable merge sort: rows with equal keys keep their
    // input order, as a one-partition SortExec leaves them
    case s: Sort if s.global && evaluable(s.order.map(_.child)) => fold(s.child).map { r =>
      r.copy(data = r.data.sorted(new InterpretedOrdering(s.order, r.output)))
    }
    case _ => None
  }
}
