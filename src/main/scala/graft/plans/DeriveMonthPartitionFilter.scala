package graft.plans

import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, AttributeSet, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{DateType, StringType}

/** Optimizer rule: derive `date_month` partition predicates from `date`
  * bounds over TickStore-shaped relations.
  *
  * `TickStore` partitions by `date_month = yyyy-MM(date)`; a user query
  * filtering only on `date` would scan every month directory. This rule
  * conjoins the implied month bounds (`date ≥ d ⇒ date_month ≥
  * month(d)`, `date = d ⇒ date_month = month(d)`, etc.), which Spark's
  * scan planning turns into PartitionFilters — directory-level pruning,
  * the B-tree inner-node traversal analog, without callers having to use
  * `TickStore.scan`.
  *
  * Terminates at fixpoint: once the derived predicate references
  * `date_month`, the guard stops re-firing.
  *
  * Gated on provenance, not column-name coincidence: the rule fires
  * only when BOTH `date` and `date_month` trace (by exprId) to a scan
  * that [[graft.sources.TickStore.read]] tagged with the
  * `graft.tickstore` reader option. A non-TickStore table that merely
  * has columns with these names — where `date_month` may mean something
  * else — is never rewritten.
  */
object DeriveMonthPartitionFilter extends Rule[LogicalPlan] with PredicateHelper {

  /** Marker option set by TickStore.read on its parquet scan. */
  val MarkerOption = "graft.tickstore"

  private def monthOf(daysSinceEpoch: Int): String =
    java.time.LocalDate.ofEpochDay(daysSinceEpoch.toLong).toString.substring(0, 7)

  /** Output attributes of marker-tagged TickStore scans under `plan`. */
  private def tickStoreOutputs(plan: LogicalPlan): AttributeSet =
    AttributeSet(plan.collect {
      case l: LogicalRelation if (l.relation match {
            case h: HadoopFsRelation => h.options.get(MarkerOption).contains("true")
            case _ => false
          }) => l.output
    }.flatten)

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child)
        if child.output.exists(a => a.name == "date_month" && a.dataType == StringType) &&
          child.output.exists(a => a.name == "date" && a.dataType == DateType) &&
          !cond.references.exists(_.name == "date_month") &&
          {
            val marked = tickStoreOutputs(child)
            marked.nonEmpty &&
              child.output.filter(a => a.name == "date_month" || a.name == "date")
                .forall(marked.contains)
          } =>
      val dateAttr = child.output.find(a => a.name == "date" && a.dataType == DateType).get
      val monthAttr = child.output.find(_.name == "date_month").get
      val derived: Seq[Expression] = splitConjunctivePredicates(cond).collect {
        case EqualTo(a: AttributeReference, Literal(v: Int, DateType))
          if a.semanticEquals(dateAttr) => EqualTo(monthAttr, Literal(monthOf(v)))
        case GreaterThanOrEqual(a: AttributeReference, Literal(v: Int, DateType))
          if a.semanticEquals(dateAttr) => GreaterThanOrEqual(monthAttr, Literal(monthOf(v)))
        case GreaterThan(a: AttributeReference, Literal(v: Int, DateType))
          if a.semanticEquals(dateAttr) => GreaterThanOrEqual(monthAttr, Literal(monthOf(v)))
        case LessThanOrEqual(a: AttributeReference, Literal(v: Int, DateType))
          if a.semanticEquals(dateAttr) => LessThanOrEqual(monthAttr, Literal(monthOf(v)))
        case LessThan(a: AttributeReference, Literal(v: Int, DateType))
          if a.semanticEquals(dateAttr) => LessThanOrEqual(monthAttr, Literal(monthOf(v)))
      }
      if (derived.isEmpty) f
      else Filter(And(cond, derived.reduce(And)), child)
  }
}
