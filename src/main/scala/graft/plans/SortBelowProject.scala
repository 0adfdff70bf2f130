package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeMap, AttributeSet, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.{PROJECT, SORT}

/** Rewrites `Sort(order, global, Project(list, child))` into
  * `Project(list, Sort(order', global, child))`: a global sort's range
  * exchange samples its child in a separate job, so a projection under
  * the sort runs twice per row (DESIGN.md "Plan rules"). Fires only when
  * the projection is deterministic and computes a column, and every sort
  * key reads columns passed through bare or aliased; `order'` reads the
  * child attributes. Top-down, so a sort passes stacked projections.
  */
object SortBelowProject extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformDownWithPruning(_.containsAllPatterns(SORT, PROJECT)) {
      case s @ Sort(order, true, Project(list, child), _)
          if list.forall(_.deterministic) =>
        val passThrough = list.collect {
          case a: Attribute => a -> a
          case al @ Alias(a: Attribute, _) => al.toAttribute -> a
        }
        val passed = AttributeMap(passThrough)
        // nothing to save when the projection only passes columns through
        if (passThrough.size == list.size ||
            !order.forall(_.references.forall(passed.contains))) s
        else {
          val childOrder = order.map(_.transform {
            case a: Attribute if passed.contains(a) => passed(a)
          }.asInstanceOf[SortOrder])
          // column pruning ran before this rule: narrow the sort's input
          // to what the projection and the keys read
          val needed = AttributeSet(list.flatMap(_.references) ++
            childOrder.flatMap(_.references))
          val input =
            if (child.outputSet.subsetOf(needed)) child
            else Project(child.output.filter(needed.contains), child)
          Project(list, s.copy(order = childOrder, child = input))
        }
    }
}
