package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Record linkage / entity resolution — the fuzzy-matching tier that
  * deduplicates CATALOGS rather than corpora (supplier names, product
  * titles, author strings): approximate string matching made tractable
  * by blocking, the standard ER decomposition (Fellegi–Sunter framing;
  * the LSH candidate+verify shape applied to edit distance).
  */
object Linkage {

  /** Blocked fuzzy self-join: pairs of DISTINCT `strCol` values whose
    * Levenshtein distance is ≤ `maxDist`, restricted to pairs sharing a
    * `blockKey` (e.g. first token, phonetic code, sorted-token prefix).
    * Exact-duplicate strings are collapsed FIRST (min-id representative
    * — the [[graft.dedup.Dedup]] exact-before-near ordering rule, which
    * also keeps clone families from blowing up block occupancy);
    * blocking bounds recall exactly like LSH banding bounds it: a pair
    * whose key differs is never compared — choose the key so the edits
    * you care about cannot touch it.
    *
    * Scale shape: the quadratic step runs on distinct VALUES (≪ rows
    * for catalog data), shuffled once keyed by block; within-block
    * pairing is candidate+verify (id1 < id2, then one codegen
    * `levenshtein` per candidate — never materialized unfiltered). The
    * occupancy guard is enforced, not advisory: a block exceeding
    * `maxBlock` raises at runtime with the fix in the message
    * ([[graft.functions.Guards.occupancy]] — the count window runs on
    * the same block-keyed partitioning the join needs). Levenshtein is
    * an exact integer — bit-stable on any engine. Output: (id1, id2, s1,
    * s2, dist). */
  def fuzzyPairs(df: DataFrame, idCol: String, strCol: String,
      blockKey: Column => Column, maxDist: Int,
      maxBlock: Int = 10000): DataFrame = {
    require(maxDist >= 0, s"fuzzyPairs: maxDist must be >= 0, got $maxDist")
    val names = df.groupBy(col(strCol).as("__s")).agg(min(col(idCol)).as("__id"))
      .withColumn("__b", blockKey(col("__s")))
    val guarded = graft.functions.Guards.occupancy(names, Seq("__b"), "__b",
      "maxBlock", maxBlock, "fuzzyPairs: block", "Use a more selective blockKey " +
        "(longer prefix, more tokens), or raise maxBlock")
    val l = guarded.select(col("__b"), col("__id").as("id1"), col("__s").as("s1"))
    val r = guarded.select(col("__b"), col("__id").as("id2"), col("__s").as("s2"))
    // THRESHOLD-BOUNDED distance on the quadratic within-block hot
    // path: the 3-arg levenshtein early-exits at maxDist (banded DP,
    // O(maxDist·len) per evaluation instead of O(len²)) and encodes
    // "beyond" as −1, so filter and projection share one expression.
    // Catalyst does not reliably CSE a levenshtein across
    // Filter/Project (predicate pushdown re-substitutes the alias), so
    // the expression may still evaluate twice per candidate — the
    // threshold bounds BOTH evaluations, which is what matters here.
    l.join(r, Seq("__b"))
      .filter(col("id1") < col("id2"))
      .withColumn("dist",
        levenshtein(col("s1"), col("s2"), maxDist).cast("bigint"))
      .filter(col("dist") >= 0)
      .select(col("id1"), col("id2"), col("s1"), col("s2"), col("dist"))
  }
}
