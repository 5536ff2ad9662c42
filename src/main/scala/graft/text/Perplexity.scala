package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Guards, Stable}

/** CCNet-style language-model quality gate (Wenzek et al. 2020): score
  * every corpus document by how surprising its token stream is under a
  * bigram model trained on a REFERENCE corpus (CCNet uses a Wikipedia
  * KenLM; the reference side here is any curated frame), and gate on
  * mean surprise. Low bits-per-bigram ≈ fluent in-domain text; high ≈
  * boilerplate, code dumps, other-language, or gibberish.
  *
  * Cross-engine exactness is the design constraint: real log-probs are
  * IEEE doubles whose distributed sum is order-dependent, so the model
  * is QUANTIZED to integer bit costs — `ilog2(x) = length(bin(x)) - 1`,
  * identical in Spark and DuckDB — and every score is an integer sum:
  *
  *   bits(w1, w2) = ilog2(c1)  - ilog2(c12)   seen bigram  (≈ -log2 p)
  *                = ilog2(c1)  + 1            unseen bigram, seen context
  *                  (one bit worse than any seen bigram in that context)
  *                = unseenBits                unseen context
  *
  * where c12 = count(w1 w2) in the reference and c1 = Σ_w2 c12 (the
  * context total, so seen costs are ≥ 0 by construction). The gate is
  * the cross-multiplied integer comparison `total_bits <= maxBitsPerBigram
  * * n_bigrams` — no per-row division ever happens.
  *
  * Scale shape (the KenLM deployment shape): the MODEL is bounded by
  * the reference vocabulary, not the corpus, BY CONTRACT — [[score]]
  * bounds the model at `maxModelRows` inside the plan and fails the
  * first action rather than letting a corpus-sized "reference" OOM the
  * driver mid-broadcast. The corpus
  * side is a pure projection (hashed bigram pairs) + two broadcast
  * joins + one doc-keyed map-side-combined agg: the corpus token stream
  * never shuffles.
  *
  * Reference analog: fuel has no quality tier; this extends SURVEY §2's
  * text-analysis family the way CCNet's perplexity buckets extend
  * heuristic gates.
  */
object Perplexity {

  /** Hashed adjacent-token pairs as a pure projection; docs with < 2
    * tokens contribute nothing (explode of the empty array). The
    * sequence is guarded by the caller's `size >= 2` filter — Spark's
    * `sequence(1, 0)` DESCENDS rather than returning empty. */
  private def bigramPairs(toks: Column): Column =
    transform(sequence(lit(1), size(toks) - 1), i => struct(
      Stable.hash64(element_at(toks, i)).as("h1"),
      Stable.hash64(element_at(toks, i + 1)).as("h2")))

  /** Integer bit cost: floor(log2(x)) for x >= 1, via the binary-string
    * length — exact, branch-free, and bit-identical in DuckDB. */
  private def ilog2(c: Column): Column = (length(bin(c)) - 1).cast("bigint")

  /** Train: the bigram count table (h1, h2, c12) over a reference
    * frame. Two shuffles, both over the REFERENCE (bounded by the
    * [[score]] contract), both map-side combined. */
  def bigramCounts(ref: DataFrame, idCol: String = "doc_id",
      toksCol: String = "ts"): DataFrame =
    ref.filter(size(col(toksCol)) >= 2)
      .select(explode_outer(bigramPairs(col(toksCol))).as("bg"))
      .filter(col("bg").isNotNull)
      .groupBy(col("bg.h1").as("h1"), col("bg.h2").as("h2"))
      .agg(count(lit(1)).as("c12"))

  /** Score every document: the input frame minus `toksCol`, plus
    * (n_bigrams, total_bits) — non-token columns (lang, source, …) ride
    * through so downstream tiers ([[buckets]]) need no second doc-keyed
    * join. Docs with < 2 tokens score (0, 0) — vacuously fluent, the
    * gate keeps them (length flooring belongs to the length gate, not
    * the LM). */
  def score(docs: DataFrame, model: DataFrame, idCol: String = "doc_id",
      toksCol: String = "ts", unseenBits: Int = 20,
      maxModelRows: Long = 2000000L): DataFrame = {
    val m = Guards.atMost(model, maxModelRows,
      s"Perplexity.score: model exceeds $maxModelRows bigram rows — a " +
        "corpus-sized 'reference' cannot broadcast; train on a bounded " +
        "curated slice (the KenLM contract), or raise maxModelRows if the " +
        "model genuinely fits the broadcast budget")
    val c1 = m.groupBy("h1").agg(sum(col("c12")).as("c1"))
    val bgr = docs.filter(size(col(toksCol)) >= 2)
      .select(col(idCol), explode_outer(bigramPairs(col(toksCol))).as("bg"))
      .filter(col("bg").isNotNull)
      .select(col(idCol), col("bg.h1").as("h1"), col("bg.h2").as("h2"))
    val bits = when(col("c12").isNotNull, ilog2(col("c1")) - ilog2(col("c12")))
      .when(col("c1").isNotNull, ilog2(col("c1")) + lit(1L))
      .otherwise(lit(unseenBits.toLong))
    val scores = bgr
      .join(broadcast(m), Seq("h1", "h2"), "left")
      .join(broadcast(c1), Seq("h1"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"), sum(bits).as("total_bits"))
    docs.drop(toksCol)
      .join(scores, Seq(idCol), "left")
      .withColumn("n_bigrams", coalesce(col("n_bigrams"), lit(0L)))
      .withColumn("total_bits", coalesce(col("total_bits"), lit(0L)))
  }

  /** Hashed adjacent token TRIPLES, the [[bigramPairs]] shape one order
    * up; docs with < 3 tokens contribute nothing. */
  private def trigramTriples(toks: Column): Column =
    transform(sequence(lit(1), size(toks) - 2), i => struct(
      Stable.hash64(element_at(toks, i)).as("h1"),
      Stable.hash64(element_at(toks, i + 1)).as("h2"),
      Stable.hash64(element_at(toks, i + 2)).as("h3")))

  /** Train the trigram table (h1, h2, h3, c123) over a reference frame
    * — the higher-order half of [[scoreTrigram]]'s model (the bigram
    * half is [[bigramCounts]] over the SAME reference). */
  def trigramCounts(ref: DataFrame, idCol: String = "doc_id",
      toksCol: String = "ts"): DataFrame =
    ref.filter(size(col(toksCol)) >= 3)
      .select(explode_outer(trigramTriples(col(toksCol))).as("tg"))
      .filter(col("tg").isNotNull)
      .groupBy(col("tg.h1").as("h1"), col("tg.h2").as("h2"), col("tg.h3").as("h3"))
      .agg(count(lit(1)).as("c123"))

  /** Trigram scoring with quantized stupid backoff — the tier between
    * [[score]]'s bigram model and a full KenLM (Brants et al. 2007's
    * rule: use the highest-order n-gram that was SEEN, pay a fixed
    * penalty per backoff level; the penalty is 1 bit here so every cost
    * stays an exact integer):
    *
    *   bits(w1 w2 w3) = ilog2(c12)  - ilog2(c123)      seen trigram
    *                  = ilog2(c2)   - ilog2(c23) + 1   backoff to bigram
    *                  = ilog2(c2)   + 2                seen unigram ctx only
    *                  = unseenBits                     unknown context
    *
    * with c12 = Σ_w3 c123 (the trigram-context total, derived from the
    * trigram table) and c2 = Σ_w3 c23 (the bigram-context total). Both
    * models are bounded by the SAME enforced broadcast contract as
    * [[score]]; the corpus side stays a pure projection + four
    * broadcast joins + one doc-keyed map-side-combined agg. Output:
    * the input frame minus `toksCol`, plus (n_trigrams, total_bits);
    * docs with < 3 tokens score (0, 0) — the length gate's
    * jurisdiction, as in [[score]]. */
  def scoreTrigram(docs: DataFrame, triModel: DataFrame, biModel: DataFrame,
      idCol: String = "doc_id", toksCol: String = "ts", unseenBits: Int = 20,
      maxModelRows: Long = 2000000L): DataFrame = {
    def bounded(name: String, m: DataFrame): DataFrame =
      Guards.atMost(m, maxModelRows,
        s"Perplexity.scoreTrigram: $name model exceeds $maxModelRows rows — " +
          "a corpus-sized 'reference' cannot broadcast; train on a bounded " +
          "curated slice (the KenLM contract), or raise maxModelRows")
    val tri = bounded("trigram", triModel)
    val c12 = tri.groupBy("h1", "h2").agg(sum(col("c123")).as("c12ctx"))
    val bi = bounded("bigram", biModel).select(col("h1").as("h2"), col("h2").as("h3"),
      col("c12").as("c23"))
    val c2 = bi.groupBy("h2").agg(sum(col("c23")).as("c2ctx"))
    val tgr = docs.filter(size(col(toksCol)) >= 3)
      .select(col(idCol), explode_outer(trigramTriples(col(toksCol))).as("tg"))
      .filter(col("tg").isNotNull)
      .select(col(idCol), col("tg.h1").as("h1"), col("tg.h2").as("h2"),
        col("tg.h3").as("h3"))
    val bits = when(col("c123").isNotNull, ilog2(col("c12ctx")) - ilog2(col("c123")))
      .when(col("c23").isNotNull, ilog2(col("c2ctx")) - ilog2(col("c23")) + lit(1L))
      .when(col("c2ctx").isNotNull, ilog2(col("c2ctx")) + lit(2L))
      .otherwise(lit(unseenBits.toLong))
    val scores = tgr
      .join(broadcast(tri), Seq("h1", "h2", "h3"), "left")
      .join(broadcast(c12), Seq("h1", "h2"), "left")
      .join(broadcast(bi), Seq("h2", "h3"), "left")
      .join(broadcast(c2), Seq("h2"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_trigrams"), sum(bits).as("total_bits"))
    docs.drop(toksCol)
      .join(scores, Seq(idCol), "left")
      .withColumn("n_trigrams", coalesce(col("n_trigrams"), lit(0L)))
      .withColumn("total_bits", coalesce(col("total_bits"), lit(0L)))
  }

  /** The gate: keep documents at mean bit cost <= `maxBitsPerBigram`
    * (cross-multiplied — no division). Returns the scored frame plus
    * the `keep` flag so callers can gate (`filter(col("keep") === 1)`)
    * or report the score distribution from one pass. */
  def gate(docs: DataFrame, model: DataFrame, maxBitsPerBigram: Int,
      idCol: String = "doc_id", toksCol: String = "ts",
      unseenBits: Int = 20, maxModelRows: Long = 2000000L): DataFrame =
    score(docs, model, idCol, toksCol, unseenBits, maxModelRows)
      .withColumn("keep",
        when(col("total_bits") <= col("n_bigrams") * maxBitsPerBigram, 1)
          .otherwise(0).cast("int"))

  /** CCNet's head/middle/tail buckets (Wenzek et al. 2020 §4.3): split
    * each `groupCol` group (CCNet buckets per language) into `nBuckets`
    * equal-count tiers by mean bit cost, ascending — bucket 1 = most
    * fluent. Input is [[score]]/[[gate]] output.
    *
    * The scale shape is CCNet's own: cutoffs come from a per-group
    * score HISTOGRAM, never a corpus-wide rank. `ntile` would sort
    * 50 TB of "en" inside one window partition; here the corpus side is
    * a pure projection + one broadcast join, and the only windows run
    * over the histogram, which is bounded by construction: the mean is
    * quantized to integer deci-bits (`score_q = (10*total_bits) div
    * n_bigrams`, exact in both engines), so a group has at most
    * 10*unseenBits + 1 distinct scores. cut_i is the least score_q
    * whose cumulative count reaches i/nBuckets of the group
    * (cross-multiplied — no division); a doc's bucket is 1 + the number
    * of cuts it exceeds, so tied docs share a bucket by construction
    * (CCNet cuts at score thresholds, not ranks — boundary buckets may
    * exceed n/nBuckets when ties straddle a cut). Unscored docs
    * (n_bigrams = 0) get bucket 0: length flooring is the length
    * gate's jurisdiction, not the LM's. */
  def buckets(scored: DataFrame, groupCol: String, nBuckets: Int = 3,
      idCol: String = "doc_id"): DataFrame = {
    require(nBuckets >= 2, s"buckets: nBuckets must be >= 2, got $nBuckets")
    val q = scored.withColumn("score_q",
      when(col("n_bigrams") > 0,
        expr("(total_bits * 10L) div n_bigrams")))
    val hist = q.filter(col("score_q").isNotNull)
      .groupBy(col(groupCol), col("score_q")).agg(count(lit(1)).as("__c"))
    val cum = hist
      .withColumn("__cum", sum(col("__c")).over(
        Window.partitionBy(groupCol).orderBy("score_q")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__n", sum(col("__c")).over(Window.partitionBy(groupCol)))
    val cutAggs = (1 until nBuckets).map(i =>
      min(when(col("__cum") * nBuckets >= col("__n") * i, col("score_q")))
        .as(s"__cut$i"))
    val cuts = cum.groupBy(groupCol).agg(cutAggs.head, cutAggs.tail: _*)
    val bucket = (1 until nBuckets).foldLeft(lit(1)) { (acc, i) =>
      acc + when(col("score_q") > col(s"__cut$i"), 1).otherwise(0)
    }
    q.join(broadcast(cuts), Seq(groupCol), "left")
      .withColumn("bucket",
        when(col("score_q").isNull, 0).otherwise(bucket).cast("int"))
      .drop((1 until nBuckets).map(i => s"__cut$i"): _*)
  }
}
