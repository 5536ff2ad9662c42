package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** A document's duplicate-n-gram repetition counts in one codegen pass:
  * `[n_2grams, top_2gram_count, n_3grams, dup_3gram_count]`.
  *
  * The keyed-agg form (the tests' `ReferenceForms.repetitionColumnsRef` —
  * tag-union the hashed 2-/3-gram streams, explode, two corpus-wide
  * keyed aggs) shuffles one row per corpus gram. But every count is
  * per-document: gram occurrence counts never cross docs. So the whole
  * computation runs in-row ([[TokenStatsExpr]]'s playbook): grams are
  * digested incrementally from token bytes extracted once
  * ([[NgramHashesExpr]]'s loop), counted in a per-doc hash map, and the
  * four aggregates fall out of one scan of each map — the repetition
  * gate becomes a pure projection with NO shuffle at all.
  *
  * Gram hashes are [[Stable.hash64]] of the space-joined tokens —
  * identical to the keyed-agg form, so hash collisions (astronomically
  * unlikely) merge counts identically. `ngramOccurrences` semantics:
  * docs shorter than n have NO n-gram (no whole-doc fallback — unlike
  * [[NgramHashesExpr]]); null tokens vanish without a separator
  * (concat_ws). Bit-equality with the keyed-agg form is pinned in
  * TextDedupSpec on the real corpus. */
case class RepetitionStatsExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_repetition_stats"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_repetition_stats requires array<string> input, got ${other.simpleString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    RepetitionStatsExpr.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.RepetitionStatsExpr.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): RepetitionStatsExpr =
    copy(child = newChild)
}

object RepetitionStatsExpr {
  private val digests = ThreadLocal.withInitial[MessageDigest](() =>
    MessageDigest.getInstance("MD5"))
  private val space = Array(' '.toByte)

  /** One row's `[n_2grams, top_2gram_count, n_3grams, dup_3gram_count]`.
    * Called from generated code. */
  def compute(toks: ArrayData): ArrayData = {
    val n = toks.numElements()
    val tb = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      if (!toks.isNullAt(i)) tb(i) = toks.getUTF8String(i).getBytes
      i += 1
    }
    val md = digests.get()
    val out = new Array[Long](4)
    var g = 2
    while (g <= 3) {
      val total = math.max(n - g + 1, 0)
      if (total > 0) {
        val counts = new java.util.HashMap[Long, Int](total * 2)
        var p = 0
        while (p < total) {
          md.reset()
          var first = true
          var j = p
          while (j < p + g) {
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
          v = (v << 4) | ((d(7) & 0xffL) >>> 4)
          counts.merge(v, 1, (a, x) => a + x)
          p += 1
        }
        if (g == 2) {
          out(0) = total
          val it = counts.values().iterator()
          var top = 0L
          while (it.hasNext) { val c = it.next(); if (c > top) top = c }
          out(1) = top
        } else {
          out(2) = total
          val it = counts.values().iterator()
          var dup = 0L
          while (it.hasNext) { val c = it.next(); if (c > 1) dup += c }
          out(3) = dup
        }
      }
      g += 1
    }
    new GenericArrayData(out)
  }

  /** Column form. */
  def repetitionStats(toks: Column): Column =
    Bridge.column(RepetitionStatsExpr(Bridge.expression(toks)))
}
