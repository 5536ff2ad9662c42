package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** All of the curation gate's per-token counts in one codegen pass.
  *
  * The gate ([[graft.text.TextOps.langId]] + `qualityColumns`) originally
  * built `size(filter(toks, t => ...))` per stopword profile — Spark's
  * array higher-order functions are CodegenFallback, so every token of
  * every document paid an interpreted lambda dispatch per profile (×6),
  * on the hottest path in the engine (the gate runs over the RAW corpus,
  * before anything is dropped, and the curation chain recomputes it
  * per consumer). Same fix the dedup family uses for minhash/simhash
  * (explode + codegen aggregation), but the gate is a pure PROJECTION —
  * exploding would add a corpus-wide shuffle — so the counts fuse into
  * one native expression instead: a single tight loop over the token
  * array, profile membership via hashed sets riding as ONE reference
  * object (the [[SignBucketsExpr]] playbook — plan size is O(1) in
  * profile count, generated source identical across invocations).
  *
  * Output `array<bigint>` of length `wordSets.length + 1`:
  * counts(i) = tokens contained in `wordSets(i)`; the LAST element =
  * tokens containing any byte outside 'a'..'z'.
  *
  * Semantics are EXACTLY the HOF forms' (asserted element-for-element in
  * TokenStatsSpec):
  *   - `size(filter(toks, t => words.map(t === lit(_)).reduce(_ || _)))`
  *     — NULL tokens match no word, so they never count; set membership
  *     is UTF8String equality, same as `===`.
  *   - `size(filter(toks, t => t.rlike("[^a-z]")))` — a char outside
  *     a-z exists iff a BYTE outside 0x61..0x7a exists (ASCII chars are
  *     their own bytes; every byte of a multi-byte char is >= 0x80), so
  *     the byte scan is bit-equal to the regex find, without the
  *     per-token String materialization.
  */
case class TokenStatsExpr(child: Expression, wordSets: Array[Array[String]])
    extends UnaryExpression {
  private val nSets = wordSets.length

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_token_stats"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_token_stats requires array<string> input, got ${other.simpleString}")
  }

  /** The single codegen reference object: one hashed set per profile. */
  private lazy val sets: Array[java.util.HashSet[UTF8String]] =
    wordSets.map { ws =>
      val s = new java.util.HashSet[UTF8String](ws.length * 2)
      ws.foreach(w => s.add(UTF8String.fromString(w)))
      s
    }

  /** Shared by eval and codegen: true iff any byte of `t` is outside a-z. */
  @inline private def hasNonAlphaByte(t: UTF8String): Boolean = {
    val n = t.numBytes()
    var i = 0
    while (i < n) {
      val b = t.getByte(i)
      if (b < 'a' || b > 'z') return true
      i += 1
    }
    false
  }

  override protected def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val out = new Array[Long](nSets + 1)
    val n = toks.numElements()
    var i = 0
    while (i < n) {
      if (!toks.isNullAt(i)) {
        val t = toks.getUTF8String(i)
        var s = 0
        while (s < nSets) {
          if (sets(s).contains(t)) out(s) += 1
          s += 1
        }
        if (hasNonAlphaByte(t)) out(nSets) += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val ref = ctx.addReferenceObj("gateSets", sets, "java.util.HashSet[]")
      val out = ctx.freshName("counts")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val t = ctx.freshName("tok")
      val b = ctx.freshName("b")
      val j = ctx.freshName("j")
      val nonAlpha = ctx.freshName("nonAlpha")
      s"""
         |long[] $out = new long[${nSets + 1}];
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  if (!$a.isNullAt($i)) {
         |    org.apache.spark.unsafe.types.UTF8String $t = $a.getUTF8String($i);
         |    for (int $s = 0; $s < $nSets; $s++) {
         |      if ($ref[$s].contains($t)) $out[$s]++;
         |    }
         |    boolean $nonAlpha = false;
         |    for (int $j = 0; $j < $t.numBytes(); $j++) {
         |      byte $b = $t.getByte($j);
         |      if ($b < 'a' || $b > 'z') { $nonAlpha = true; break; }
         |    }
         |    if ($nonAlpha) $out[$nSets]++;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): TokenStatsExpr =
    copy(child = newChild)
}

object TokenStats {
  /** Per-profile token hit counts + trailing non-alpha count of `toks`,
    * as one `array<bigint>` from one codegen pass. Pass the SAME
    * `wordSets` array instance at every call site over the same tokens —
    * case-class equality is reference equality on the array, which is
    * what lets whole-stage codegen's subexpression elimination share one
    * evaluation across langId and qualityColumns. */
  def apply(toks: Column, wordSets: Array[Array[String]]): Column =
    Bridge.column(TokenStatsExpr(Bridge.expression(toks), wordSets))
}
