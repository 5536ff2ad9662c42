package graft

import org.apache.spark.sql.functions._

import graft.text.Perplexity

/** Quantized-log2 bigram LM gate: hand-computed bit costs, the model
  * broadcast contract, and the short-doc edge. */
class PerplexitySpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  // Reference "a b a b a c": bigrams ab, ba, ab, ba, ac →
  // c12(ab)=2, c12(ba)=2, c12(ac)=1; contexts c1(a)=3, c1(b)=2.
  private def ref = Seq((100L, Seq("a", "b", "a", "b", "a", "c")))
    .toDF("doc_id", "ts")

  private def model = Perplexity.bigramCounts(ref)

  test("bigramCounts: hand-checked count table") {
    val m = model.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(m.values.toSeq.sorted == Seq(1L, 2L, 2L))
    assert(m.size == 3)
  }

  test("score: seen / unseen-bigram / unseen-context costs, hand-computed") {
    val docs = Seq(
      (1L, Seq("a", "b", "a", "c")), // ab:1-1=0, ba:1-1=0, ac:1-0=1 → 1
      (2L, Seq("a", "z")),           // seen context a: ilog2(3)+1 = 2
      (3L, Seq("z", "q")),           // unseen context → unseenBits
      (4L, Seq("a"))                 // < 2 tokens → (0, 0)
    ).toDF("doc_id", "ts")
    val out = Perplexity.score(docs, model, unseenBits = 20)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out == Map(1L -> ((3L, 1L)), 2L -> ((1L, 2L)),
      3L -> ((1L, 20L)), 4L -> ((0L, 0L))))
  }

  test("gate: cross-multiplied threshold keeps fluent docs and vacuous shorts") {
    val docs = Seq(
      (1L, Seq("a", "b", "a", "c")),
      (2L, Seq("a", "z")),
      (3L, Seq("z", "q")),
      (4L, Seq("a"))
    ).toDF("doc_id", "ts")
    val keep = Perplexity.gate(docs, model, maxBitsPerBigram = 1)
      .collect().map(r => r.getLong(0) -> r.getInt(3)).toMap
    assert(keep == Map(1L -> 1, 2L -> 0, 3L -> 0, 4L -> 1))
  }

  test("score: the model broadcast contract is enforced at the first action") {
    val docs = Seq((1L, Seq("a", "b"))).toDF("doc_id", "ts")
    val over = Perplexity.score(docs, model, maxModelRows = 2L)
    val e = messageChain(intercept[Exception](over.collect()))
    assert(e.contains("maxModelRows"), e)
  }

  test("buckets: per-group tercile cutoffs, hand-computed, ties share a bucket") {
    // Group x: distinct deci-bit scores 10..60 → n=6, cut1 = 20 (cum 2),
    // cut2 = 40 (cum 4) → buckets 1,1,2,2,3,3; the n_bigrams=0 doc is
    // unscored → bucket 0. Group y: scores {10,10,90} → both cuts land
    // on 10 (cum 2 of 3 clears both 1/3 and 2/3), so the tied pair is
    // bucket 1 and the outlier 3 — the middle tier is legitimately
    // empty when ties straddle a cut.
    val scored = Seq(
      (1L, "x", 1L, 1L), (2L, "x", 1L, 2L), (3L, "x", 1L, 3L),
      (4L, "x", 1L, 4L), (5L, "x", 1L, 5L), (6L, "x", 1L, 6L),
      (10L, "x", 0L, 0L),
      (7L, "y", 1L, 1L), (8L, "y", 1L, 1L), (9L, "y", 1L, 9L)
    ).toDF("doc_id", "lang", "n_bigrams", "total_bits")
    val out = Perplexity.buckets(scored, groupCol = "lang")
      .select("doc_id", "bucket").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out == Map(1L -> 1, 2L -> 1, 3L -> 2, 4L -> 2, 5L -> 3, 6L -> 3,
      10L -> 0, 7L -> 1, 8L -> 1, 9L -> 3))
  }

  test("buckets: score carries through score() so lang needs no rejoin") {
    val docs = Seq((1L, "en", Seq("a", "b", "a", "c")),
      (2L, "en", Seq("z", "q"))).toDF("doc_id", "lang", "ts")
    val out = Perplexity.buckets(Perplexity.score(docs, model), "lang")
    assert(out.columns.toSet ==
      Set("doc_id", "lang", "n_bigrams", "total_bits", "score_q", "bucket"))
    // Two docs: cum(3)=1 clears 1/3 (cut1=3) and cum(200)=2 clears 2/3
    // (cut2=200), so the unseen-context doc sits AT cut2 → bucket 2.
    val m = out.collect().map(r => r.getAs[Long]("doc_id") ->
      r.getAs[Int]("bucket")).toMap
    assert(m == Map(1L -> 1, 2L -> 2))
  }

  test("scores are invariant under corpus repartitioning") {
    val docs = Seq((1L, Seq("a", "b", "a", "c")), (2L, Seq("b", "a", "b")))
      .toDF("doc_id", "ts")
    val a = Perplexity.score(docs, model).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val b = Perplexity.score(docs.repartition(5), model).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(a == b)
  }

  test("scoreTrigram: hand-computed costs at every backoff tier") {
    // Reference "a b c a b d": trigrams abc/bca/cab/abd once each, so
    // c12ctx(a,b)=2, others 1; bigrams ab(x2)/bc/ca/bd, c2ctx(a)=2,
    // c2ctx(b)=2, c2ctx(c)=1.
    val ref = Seq((100L, Seq("a", "b", "c", "a", "b", "d"))).toDF("doc_id", "ts")
    val tri = Perplexity.trigramCounts(ref)
    val bi = Perplexity.bigramCounts(ref)
    val docs = Seq(
      (1L, Seq("a", "b", "c")),   // seen trigram: ilog2(2)-ilog2(1) = 1
      (2L, Seq("c", "a", "b")),   // seen trigram: ilog2(1)-ilog2(1) = 0
      (3L, Seq("x", "b", "c")),   // backoff to bigram bc: ilog2(2)-ilog2(1)+1 = 2
      (4L, Seq("x", "b", "x")),   // unigram ctx b only: ilog2(2)+2 = 3
      (5L, Seq("x", "y", "z")),   // unknown context: 20
      (6L, Seq("a", "b"))         // < 3 tokens: (0, 0)
    ).toDF("doc_id", "ts")
    val out = Perplexity.scoreTrigram(docs, tri, bi).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(1L) == ((1L, 1L)), s"seen trigram: ${out(1L)}")
    assert(out(2L) == ((1L, 0L)))
    assert(out(3L) == ((1L, 2L)), s"bigram backoff: ${out(3L)}")
    assert(out(4L) == ((1L, 3L)), s"unigram backoff: ${out(4L)}")
    assert(out(5L) == ((1L, 20L)))
    assert(out(6L) == ((0L, 0L)))
    // the broadcast contract holds for both model halves
    val over = Perplexity.scoreTrigram(docs, tri, bi, maxModelRows = 1L)
    val ex = messageChain(intercept[Exception](over.collect()))
    assert(ex.contains("model exceeds"), ex)
  }
}
