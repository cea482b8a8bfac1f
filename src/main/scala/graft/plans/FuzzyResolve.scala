package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.analysis.{AnalysisContext, UnresolvedAttribute}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import graft.repair.SequenceMatcher

/** Analyzer-level fallback for the reference's fuzzy identifier repair
  * (SURVEY.md §4.3 item 2): where the text-level pass (SqlRepair P17) fixes
  * SQL before parsing, this rule catches what survives to analysis — a
  * still-unresolved single-part attribute is rewritten to the closest
  * in-scope column at Ratcliff-Obershelp ratio ≥ 0.86 and handed back to
  * the normal resolver.
  *
  * Injected via SparkSessionExtensions.injectResolutionRule, so it runs
  * inside the analyzer's fixed-point batch. Because the fixed point
  * interleaves this rule with standard resolution, it fires only as a true
  * last resort:
  *
  *   - NEVER during nested subquery analysis (AnalysisContext.outerPlan is
  *     set): a not-yet-resolved attribute there may be a legitimate outer
  *     reference (`WHERE l_orderkey = o_orderkey` in a correlated EXISTS),
  *     and rewriting it to a similarly-named inner column would silently
  *     destroy
  *     the correlation. Typos inside subqueries are still fixed by the
  *     text-level P17 pass.
  *   - only on a UNIQUE best match: two in-scope candidates tied at the
  *     top ratio mean the intent is ambiguous — leave the attribute
  *     unresolved so the user sees the standard error.
  *   - every rewrite is logged, so silent semantic changes are visible.
  */
object FuzzyResolveColumns extends Rule[LogicalPlan] {

  private val cutoff = 0.86

  /** Closest in-scope column, required to be a strictly-unique best. */
  private def uniqueClosest(name: String, inScope: Seq[String]): Option[String] = {
    val scored = inScope.map(c => c -> SequenceMatcher.ratio(name, c))
      .filter(_._2 >= cutoff)
      .sortBy(-_._2)
    scored match {
      case (best, r) +: rest if rest.forall(_._2 < r) => Some(best)
      case _                                          => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (AnalysisContext.get.outerPlan.isDefined) plan
    else plan.resolveOperatorsUp {
      case q if q.childrenResolved && !q.resolved =>
        val inScope = q.children.flatMap(_.output.map(_.name)).distinct
        if (inScope.isEmpty) q
        else q.transformExpressions {
          case ua: UnresolvedAttribute
              if ua.nameParts.size == 1 &&
                !inScope.exists(_.equalsIgnoreCase(ua.name)) =>
            uniqueClosest(ua.name, inScope) match {
              case Some(fixed) =>
                logWarning(s"fuzzy-resolving unknown column '${ua.name}' " +
                  s"to '$fixed'")
                UnresolvedAttribute(Seq(fixed))
              case None => ua
            }
        }
    }
}

/** Session extension installing the opt-in fuzzy column resolution rule:
  * `spark.sql.extensions=graft.plans.GraftExtensions` or
  * `SparkSession.builder().withExtensions(new GraftExtensions)`. The as-of
  * planner strategy is not part of it: `AsOfJoin.asof`, the only producer
  * of `AsOfJoinNode`, installs that on the session it plans on.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    e.injectResolutionRule(_ => FuzzyResolveColumns)
}
