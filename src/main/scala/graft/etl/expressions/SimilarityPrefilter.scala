package graft.etl.expressions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.DoubleType

/** Optimizer rule: similarity-join prefilter (SURVEY.md §4 item 3).
  *
  * Ratcliff–Obershelp ratio = 2M/(|a|+|b|) with M <= min(|a|,|b|), so
  * `seq_ratio(a,b) >= τ` implies `2*min(|a|,|b|) >= τ*(|a|+|b|)`.
  * The rule conjoins that length bound in front of the predicate: the
  * cheap check short-circuits the O(|a|·|b|) dynamic program for the
  * (overwhelmingly common at scale) pairs whose lengths already rule
  * them out — the classic cheap-necessary-condition prefilter of
  * similarity joins, here as a `Rule[LogicalPlan]`.
  *
  * Only [[Registry.register]] installs it, so it runs only in sessions
  * that call `register`: the etlbench kernel session, PipelineSpec and
  * OptimizerSpec. No registry query's session calls `register`; J2's
  * similarity join ([[graft.etl.Consolidate.mergeSimilarity]]) writes the
  * same length bound inline.
  *
  * Sound: the added conjunct is implied by the original predicate, so
  * the filter result is unchanged (verified in OptimizerSpec).
  *
  * Idempotency is STRUCTURAL: a bound is added only if no semantically
  * equal conjunct is already present in the same condition. The former
  * implementation tagged the shared SequenceRatio instance
  * (setTagValue), which leaked across plans — a second Dataset built
  * over the same expression instance found the tag set and silently
  * skipped the prefilter.
  */
object SimilarityPrefilter extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
    case f @ Filter(cond, child) =>
      val newCond = withBounds(cond)
      if (newCond eq cond) f else Filter(newCond, child)
    case j: Join if j.condition.isDefined =>
      val newCond = withBounds(j.condition.get)
      if (newCond eq j.condition.get) j else j.copy(condition = Some(newCond))
  }

  /** Conjoin the length bound for each seq_ratio-threshold conjunct
    * whose bound is not already present; returns `cond` (reference-
    * equal) when nothing is missing.
    */
  private def withBounds(cond: Expression): Expression = {
    val conjuncts = splitConjunctivePredicates(cond)
    val additions = conjuncts.collect {
      case GreaterThanOrEqual(sr: SequenceRatio, Literal(tau: Double, DoubleType)) =>
        lengthBound(sr.left, sr.right, tau)
      case GreaterThan(sr: SequenceRatio, Literal(tau: Double, DoubleType)) =>
        lengthBound(sr.left, sr.right, tau)
    }.filterNot(b => conjuncts.exists(_.semanticEquals(b)))
    if (additions.isEmpty) cond
    else (additions ++ conjuncts).reduce(And)
  }

  private def lengthBound(a: Expression, b: Expression, tau: Double): Expression = {
    val la = Cast(Length(a), DoubleType)
    val lb = Cast(Length(b), DoubleType)
    GreaterThanOrEqual(
      Multiply(Literal(2.0), Least(Seq(la, lb))),
      Multiply(Literal(tau), Add(la, lb)))
  }
}
