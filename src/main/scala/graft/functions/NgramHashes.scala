package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** All of a document's k-gram rolling hashes in one codegen pass.
  *
  * The HOF form (the tests' `ReferenceForms.ngramHashesRef` —
  * `transform(sequence(...), i => hash64(concat_ws(" ", slice(toks, i+1, k))))`)
  * pays the interpreted-lambda tax per OUTPUT GRAM, and each evaluation
  * re-slices k tokens and materializes a fresh gram string before
  * hashing — ~10 µs/gram measured, on streams sized like the corpus's
  * token count (every ExactSubstr/fingerprint consumer). Same playbook
  * as [[TokenStatsExpr]]: the whole array-to-array computation fuses
  * into one native expression — token bytes are extracted once per row,
  * each gram digests them incrementally (no gram string is ever built),
  * and the digest folds to a long via [[Hash64Expr]]'s bytes→long tail.
  *
  * Bit-identical to the HOF form for EVERY input (asserted on the real
  * corpus plus edge cases in StableSpec), including its quirks: an
  * empty array still emits one hash (of the empty string — callers
  * filter empty docs; `sequence(0, greatest(n-k, 0))` always has
  * element 0), a short doc (n < k) emits one whole-doc hash, and null
  * tokens vanish without a separator (concat_ws semantics). Oracle
  * contracts are unchanged — the DuckDB side stays
  * `md5(array_to_string(ts[i+1:i+k], ' '))`. */
case class NgramHashesExpr(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1, s"ngram hashes need k >= 1, got $k")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_ngram_hashes"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_ngram_hashes requires array<string> input, got ${other.simpleString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    NgramHashesExpr.compute(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NgramHashesExpr.compute($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): NgramHashesExpr =
    copy(child = newChild)
}

object NgramHashesExpr {
  private val digests = ThreadLocal.withInitial[MessageDigest](() =>
    MessageDigest.getInstance("MD5"))
  private val space = Array(' '.toByte)

  /** One row's gram hashes: token bytes extracted once, grams digested
    * incrementally. Called from generated code — keep the signature flat. */
  def compute(toks: ArrayData, k: Int): ArrayData = {
    val n = toks.numElements()
    val tb = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      if (!toks.isNullAt(i)) tb(i) = toks.getUTF8String(i).getBytes
      i += 1
    }
    val nOut = math.max(n - k, 0) + 1
    val out = new Array[Long](nOut)
    val md = digests.get()
    i = 0
    while (i < nOut) {
      md.reset()
      val end = math.min(i + k, n)
      var first = true
      var j = i
      while (j < end) {
        if (tb(j) != null) {
          if (!first) md.update(space)
          md.update(tb(j))
          first = false
        }
        j += 1
      }
      val d = md.digest()
      var v = 0L
      var b = 0
      while (b < 7) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
      out(i) = (v << 4) | ((d(7) & 0xffL) >>> 4)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Column form. */
  def ngramHashes(toks: Column, k: Int): Column =
    Bridge.column(NgramHashesExpr(Bridge.expression(toks), k))
}
