package graft.plans

import org.apache.spark.sql.catalyst.expressions.{AttributeSet, Expression, IntegerLiteral}
import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit, LogicalPlan, Project, Sort}
import org.apache.spark.sql.catalyst.rules.Rule

/** Marks graft's native per-row kernels (the case classes of the `*Expressions.scala`
  * files in this package): the expressions worth evaluating only on the rows an answer
  * keeps. [[LateKernelMaterialization]] reads it.
  */
trait GraftKernel { self: Expression => }

/** Late materialization of graft kernels under a top-K (Abadi et al.,
  * "Materialization Strategies in a Column-Oriented DBMS", ICDE 2007).
  *
  * `select(kernel(text)).orderBy(k).limit(n)` analyzes to
  * `Limit(n, Sort(k, Project[kernel(text)]))`: the kernel runs on every row
  * and the top-K then throws all but n of them away. When `n` is a literal
  * below `spark.sql.execution.topKSortFallbackThreshold` (exactly when
  * Spark plans `TakeOrderedAndProject`), the projection entries that contain
  * a [[GraftKernel]] move above the Sort:
  * {{{
  *   Limit(n, Project[id, kernel(text)](Sort(k, Project[id, text](child))))
  * }}}
  * Spark folds that `Project` into `TakeOrderedAndProject`'s projectList,
  * which it evaluates on the ≤ n rows of the final merge. Kernel-free
  * entries (pass-through or aliased columns, any other expression) stay
  * below and are evaluated once per row as before, so sort keys that read
  * them need no substitution. An optional `Project` between the limit and
  * the Sort (SQL's `ORDER BY` on a column not selected) is kept on top.
  *
  * Fires only when every entry is deterministic and no sort key reads a
  * kernel output. The top-K's per-partition exchange then carries the
  * kernel's inputs (≤ n rows per partition) instead of its outputs;
  * fetching those inputs only for the winners is not done here. A kernel
  * that would have raised on a row the top-K discards no longer raises,
  * as with any projection Spark itself pushes above a limit.
  */
object LateKernelMaterialization extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case gl @ GlobalLimit(IntegerLiteral(n), ll @ LocalLimit(_, inner))
        if n < conf.topKSortFallbackThreshold =>
      val moved = inner match {
        case s @ Sort(_, true, p: Project, _) => moveKernels(s, p)
        case top @ Project(_, s @ Sort(_, true, p: Project, _)) =>
          moveKernels(s, p).map(c => top.copy(child = c))
        case _ => None
      }
      moved.map(c => gl.copy(child = ll.copy(child = c))).getOrElse(gl)
  }

  private def hasKernel(e: Expression): Boolean = e.exists(_.isInstanceOf[GraftKernel])

  /** `Sort(Project(list, child))` → `Project(list', Sort(Project(early ++
    * inputs, child)))`, or None when the rewrite does not apply. */
  private def moveKernels(s: Sort, p: Project): Option[LogicalPlan] = {
    val (kernels, early) = p.projectList.partition(hasKernel)
    if (kernels.isEmpty || !p.projectList.forall(_.deterministic) ||
        s.order.exists(_.references.intersect(AttributeSet(kernels.map(_.toAttribute))).nonEmpty))
      return None
    val inputs = AttributeSet(kernels.flatMap(_.references)) -- early.map(_.toAttribute)
    val below = Project(early ++ p.child.output.filter(inputs.contains), p.child)
    Some(Project(p.projectList.map(e => if (hasKernel(e)) e else e.toAttribute),
      s.copy(child = below)))
  }
}
