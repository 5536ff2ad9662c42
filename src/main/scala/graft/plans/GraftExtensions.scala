package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{DotExpr, GatherSumExpr, Hash64Expr}

/** SparkSessionExtensions hook — the engine's custom-expression tier made
  * available to the SQL entry point (SURVEY §4 "custom codegen Expression"
  * + §2.6 UDF surface). [[graft.Graft.session]] installs it via the
  * builder's `withExtensions`; outside that factory, activate it with
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions`.
  *
  * Registered functions (native codegen expressions, not UDFs):
  *   - `graft_hash64(string) -> bigint` — the engine-wide md5-derived
  *     60-bit hash ([[Hash64Expr]]); bit-identical to
  *     `conv(substring(md5(x),1,15),16,10)`.
  *   - `graft_dot(array<float|double>, array<float|double>) -> double` —
  *     sequential dot product ([[DotExpr]]); bit-identical to the
  *     `aggregate(zip_with(...))` formulation.
  *   - `graft_gather_sum(array<double>, array<byte|short|int>) -> double`
  *     — Σ values[indices[i]], the PQ-ADC scoring kernel
  *     ([[GatherSumExpr]]); bit-identical to the
  *     `aggregate(transform(idx, i -> try_element_at(vals, i+1)), ...)`
  *     formulation.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions._

  override def apply(ext: SparkSessionExtensions): Unit = {
    // Canonicalization rewrite: the portable md5-composition hash form
    // becomes the native codegen Hash64Expr (see RewriteComposedHash64).
    ext.injectOptimizerRule(_ => RewriteComposedHash64)
    // The session's memo of table read plans (see Tables.load).
    ext.injectCheckRule(_ => new graft.sources.Tables.PlanMemo)
    ext.injectFunction((FunctionIdentifier("graft_hash64"),
      info("graft_hash64", "md5-derived 60-bit hash of a string"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1, s"graft_hash64 takes 1 argument, got ${exprs.length}")
        Hash64Expr(exprs.head)
      }))
    ext.injectFunction((FunctionIdentifier("graft_dot"),
      info("graft_dot", "sequential dot product of two float/double arrays"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, s"graft_dot takes 2 arguments, got ${exprs.length}")
        DotExpr(exprs(0), exprs(1))
      }))
    ext.injectFunction((FunctionIdentifier("graft_gather_sum"),
      info("graft_gather_sum", "sum of values at 0-based indices (PQ-ADC kernel)"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2, s"graft_gather_sum takes 2 arguments, got ${exprs.length}")
        GatherSumExpr(exprs(0), exprs(1))
      }))
  }
}

object GraftExtensions {
  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "built-in")
}
