package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Stable
import graft.text.TextOps

/** Built-in-composed reference forms of the engine's native expressions:
  * the definitions the DuckDB oracle contract is written against, which
  * the native codegen forms must match bit-for-bit (StableSpec,
  * TextDedupSpec). Test-only — the engine runs the native forms. */
object ReferenceForms {

  /** The built-in composition `conv(substring(md5(x),1,15),16,10)` —
    * the reference definition [[graft.functions.Hash64Expr]] must match. */
  def hash64Composed(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("bigint")

  /** The HOF reference form of [[TextOps.ngramHashes]]. */
  def ngramHashesRef(toks: Column, k: Int): Column =
    transform(
      sequence(lit(0), greatest(size(toks) - k, lit(0))),
      i => Stable.hash64(concat_ws(" ", slice(toks, i + 1, lit(k)))))

  /** The keyed-agg reference form of [[TextOps.repetitionColumns]]:
    * tag-union the hashed 2-/3-gram streams in one projection, explode
    * once, two map-side-combined keyed aggs. The definition the q65
    * oracle is written against. */
  def repetitionColumnsRef(df: DataFrame, idCol: String, toksCol: String): DataFrame = {
    def tagged(n: Int): Column =
      transform(TextOps.ngramOccurrences(col(toksCol), n),
        g => struct(lit(n).as("n"), Stable.hash64(g).as("g")))
    df.select(col(idCol), explode(concat(tagged(2), tagged(3))).as("__ng"))
      .select(col(idCol), col("__ng.n").as("__n"), col("__ng.g").as("__g"))
      .groupBy(col(idCol), col("__n"), col("__g")).agg(count(lit(1)).as("__c"))
      .groupBy(idCol).agg(
        sum(when(col("__n") === 2, col("__c")).otherwise(0L)).as("__t2"),
        max(when(col("__n") === 2, col("__c"))).as("__top2"),
        sum(when(col("__n") === 3, col("__c")).otherwise(0L)).as("__t3"),
        sum(when(col("__n") === 3 && col("__c") > 1, col("__c")).otherwise(0L)).as("__dup3"))
      .filter(col("__t3") > 0)
      .select(col(idCol),
        col("__t2").cast("bigint").as("n_2grams"),
        (col("__top2").cast("double") / col("__t2").cast("double")).as("top_2gram_frac"),
        (col("__dup3").cast("double") / col("__t3").cast("double")).as("dup_3gram_frac"))
  }
}
