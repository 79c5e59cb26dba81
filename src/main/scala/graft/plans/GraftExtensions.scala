package graft.plans

import graft.functions.{CosineSimilarity, DotProduct}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.{If, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.DoubleType

/** Optimizer rule: algebraic simplification of vector expressions.
  *
  * `cosine_sim(x, x)` is 1 for any non-zero vector and 0 (by our kernel's
  * convention) for the zero vector — so the O(3n) cosine loop collapses to
  * a single O(n) dot product feeding a comparison:
  *   cosine_sim(x, x)  ⇒  IF(dot_product(x, x) = 0, 0.0, 1.0)
  * The rewrite fires only when both children are the same deterministic
  * expression (semanticEquals), so aliased/recomputed inputs still work.
  */
object SimplifySelfCosine extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case CosineSimilarity(a, b) if a.deterministic && a.semanticEquals(b) =>
        If(org.apache.spark.sql.catalyst.expressions.EqualTo(
            DotProduct(a, b), Literal(0.0, DoubleType)),
          Literal(0.0, DoubleType), Literal(1.0, DoubleType))
    }
}

/** Session extension wiring (SURVEY.md §4): registers the custom
  * expressions ([[graft.functions.GraftFunctions]]) as session functions and
  * injects the optimizer rules and planner strategy. [[BatchTimestampAsConstant]]
  * keeps a stream's batch timestamp out of its generated Java, so a
  * micro-batch plan compiles once per stream, not once per batch. Usable
  * two ways:
  *   SparkSession.builder().withExtensions(new GraftExtensions)
  *   --conf spark.sql.extensions=graft.plans.GraftExtensions
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    graft.functions.GraftFunctions.all.foreach(e.injectFunction)
    e.injectOptimizerRule(_ => SimplifySelfCosine)
    e.injectOptimizerRule(_ => RewriteWindowTopK)
    e.injectOptimizerRule(_ => RewriteBandJoin)
    e.injectOptimizerRule(_ => BatchTimestampAsConstant)
    e.injectPlannerStrategy(_ => TopKStrategy)
  }
}
