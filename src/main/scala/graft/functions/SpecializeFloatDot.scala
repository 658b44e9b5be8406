package graft.functions

import org.apache.spark.sql.catalyst.expressions.Cast
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}

/** Optimizer rule: graft_dot(cast(a as array<double>), cast(b as array<double>))
  * over float-array inputs → [[FloatDotProduct]](a, b).
  *
  * The cast form materializes two fresh double arrays per row before the loop;
  * the specialized expression reads floats in place and widens per element.
  * float→double widening is exact, so the rewrite is bit-identical — verified
  * by the DuckDB oracle on q32-q34 (which computes via the cast form) and by
  * `VectorSpec`.
  *
  * Injected via [[GraftExtensions]] (`injectOptimizerRule`), so it runs in
  * every session the repo builds, on typed-Column and SQL dots alike; a
  * session without the extension keeps the cast form, which gives the same
  * bits. This is the engine's one custom Rule — everything else in the
  * parity surface optimizes fine with stock Catalyst (SURVEY §4).
  */
object SpecializeFloatDot extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case DotProduct(
            Cast(a, ArrayType(DoubleType, _), _, _),
            Cast(b, ArrayType(DoubleType, _), _, _))
          if a.dataType.isInstanceOf[ArrayType] &&
            a.dataType.asInstanceOf[ArrayType].elementType == FloatType &&
            b.dataType.isInstanceOf[ArrayType] &&
            b.dataType.asInstanceOf[ArrayType].elementType == FloatType =>
        FloatDotProduct(a, b)
    }
}
