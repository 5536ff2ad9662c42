package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Cast, Conv, Expression, Literal, Md5, Substring}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{BinaryType, IntegerType, LongType, StringType}

import graft.functions.Hash64Expr

/** Optimizer rule: recognize the engine's PORTABLE hash spelling —
  *
  *   `CAST(conv(substring(md5(x), 1, 15), 16, 10) AS BIGINT)`
  *
  * (the cross-engine contract form every oracle reproduces, see
  * the tests' `ReferenceForms.hash64Composed`) — and replace it with the
  * native codegen [[Hash64Expr]], which computes the same 60-bit value
  * straight from the digest bytes with no hex-string round trip
  * (md5 → hex string → substring → base-16 parse → decimal string →
  * long becomes md5 → long). StableSpec pins the two forms bit-equal;
  * this rule makes the fast form automatic for SQL users who write the
  * portable one, exactly like Catalyst's own canonicalization rewrites.
  *
  * Registered by [[GraftExtensions]] via `injectOptimizerRule`, so it
  * runs post-analysis: types are resolved and md5's implicit
  * string→binary cast is in place — the match requires it, rewriting
  * only hashes OF STRINGS (binary inputs keep the built-in path; the
  * contract form is defined over strings). The rewrite is a pure
  * expression substitution — nullability (child-derived in both forms)
  * and determinism are unchanged. */
object RewriteComposedHash64 extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case Cast(Conv(Substring(Md5(b), Literal(1, IntegerType), Literal(15, IntegerType)),
            Literal(16, IntegerType), Literal(10, IntegerType), _),
          LongType, _, _) if stringChild(b).isDefined =>
        Hash64Expr(stringChild(b).get)
    }

  private def stringChild(e: Expression): Option[Expression] = e match {
    case Cast(s, BinaryType, _, _) if s.dataType == StringType => Some(s)
    case _ => None
  }
}
