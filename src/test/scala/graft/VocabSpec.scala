package graft

import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.text.TextOps

/** Tokenizer-induction and contamination-scoring semantics:
  * [[TextOps.bpeMerges]] against a hand-computed merge sequence,
  * [[TextOps.vocabCoverage]]'s curve laws, and
  * [[Dedup.benchmarkOverlap]]'s score semantics + enforced broadcast
  * probe. */
class VocabSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  test("bpeMerges: hand-computed merges on a known word-frequency table") {
    // Corpus: "low" x4, "lowest" x2, "newer" x3 (one doc per occurrence
    // keeps the word-count table obvious). Pair counts, round 1:
    //   (l,o) 6, (o,w) 6, (w,e) 5, (e,r) 3, (n,e) 3, (e,s) 2, ...
    // argmax ties (l,o)=(o,w)=6 break to the lexicographically smaller
    // (l,o). Round 2: after fusing, (lo,w) 6 wins. Round 3: "low" is
    // one symbol; (w,e) is gone (the w of lowest fused); (e,r)=(n,e)=3
    // tie breaks to (e,r).
    val docs = (Seq.fill(4)("low") ++ Seq.fill(2)("lowest") ++ Seq.fill(3)("newer"))
      .zipWithIndex.map { case (w, i) => (i.toLong, Seq(w)) }.toDF("doc_id", "ts")
    val out = TextOps.bpeMerges(docs, "ts", nMerges = 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(out.toSeq == Seq((1L, "l", "o", 6L), (2L, "lo", "w", 6L), (3L, "e", "r", 3L)))
  }

  test("bpeMerges: greedy-left fusion on runs (aaaa -> aa aa, not a aa a)") {
    // "aaaa" x2: round-1 pairs (a,a)=6 (overlapping count: 3 per word).
    // Fusing leftmost-first leaves [aa, aa], so round 2 must see
    // (aa,aa)=2 — the run semantics `replace` guarantees.
    val docs = Seq((0L, Seq("aaaa")), (1L, Seq("aaaa"))).toDF("doc_id", "ts")
    val out = TextOps.bpeMerges(docs, "ts", nMerges = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(out.toSeq == Seq((1L, "a", "a", 6L), (2L, "aa", "aa", 2L)))
  }

  test("bpeMerges: non-[a-z]+ and single-char words never train") {
    val docs = Seq((0L, Seq("ab", "C3", "x", "ab-cd"))).toDF("doc_id", "ts")
    val out = TextOps.bpeMerges(docs, "ts", nMerges = 1).collect()
    assert(out.map(r => (r.getString(1), r.getString(2))).toSeq == Seq(("a", "b")))
    // Only "ab" qualifies; a second merge has no pair left to learn.
    val ex = intercept[IllegalArgumentException] {
      TextOps.bpeMerges(docs, "ts", nMerges = 2).collect()
    }
    assert(ex.getMessage.contains("fully merged"))
  }

  test("bpeSegment: learned merges fuse in order; OOV words count 1") {
    // Merges (l,o) then (lo,w): "low" -> [low? no] — after (l,o): lo|w,
    // after (lo,w): low = 1 symbol. "lowest" -> low|e|s|t = 4. "slow"
    // -> s|low = 2. "C3" fails ^[a-z]+$ -> 1 unsegmented.
    val docs = Seq((0L, Seq("low", "lowest", "slow", "C3"))).toDF("doc_id", "ts")
    val out = TextOps.bpeSegment(docs, "doc_id", "ts",
        Seq(("l", "o"), ("lo", "w")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq((0L, 4L, 1L + 4L + 2L + 1L, 8.0 / 4.0)))
  }

  test("vocabCoverage: ranks dense, cum_cnt telescopes, full curve covers 1.0") {
    val docs = Seq((0L, Seq("a", "b", "a", "c")), (1L, Seq("a", "b", "d")))
      .toDF("doc_id", "ts")
    val rows = TextOps.vocabCoverage(docs, "ts", topK = 10)
      .orderBy("rank").collect()
    assert(rows.map(_.getLong(0)).toSeq == (1L to 4L))
    assert(rows.map(r => (r.getString(1), r.getLong(2))).toSeq ==
      Seq(("a", 3L), ("b", 2L), ("c", 1L), ("d", 1L)))
    // cum_cnt is the running sum of cnt; the last row covers everything.
    assert(rows.map(_.getLong(3)).toSeq == Seq(3L, 5L, 6L, 7L))
    assert(rows.last.getDouble(4) == 1.0)
    // Truncation keeps the same prefix.
    val top2 = TextOps.vocabCoverage(docs, "ts", topK = 2).orderBy("rank").collect()
    assert(top2.map(_.getString(1)).toSeq == Seq("a", "b"))
  }

  test("benchmarkOverlap: verbatim inclusion scores 1.0, disjoint scores 0.0") {
    val bench = Seq((100L, Seq("w1", "w2", "w3", "w4"))).toDF("doc_id", "ts")
    val corpus = Seq(
      (1L, Seq("w1", "w2", "w3", "w4")),         // verbatim: overlap 1.0
      (2L, Seq("z1", "z2", "z3", "z4", "z5")),   // disjoint: 0.0
      (3L, Seq("w1", "w2", "w3", "z9", "z8"))).toDF("doc_id", "ts")
    val out = Dedup.benchmarkOverlap(corpus, "doc_id", "ts", bench, "doc_id", "ts")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(out(1L) == ((2L, 2L, 1.0)))
    assert(out(2L) == ((3L, 0L, 0.0)))
    // Doc 3 shares exactly its (w1,w2,w3) shingle out of 3 distinct.
    assert(out(3L)._3 == out(3L)._2.toDouble / out(3L)._1.toDouble)
  }

  test("benchmarkOverlap: the broadcast probe trips on a corpus-sized benchmark") {
    val big = (0L until 40L).map(i => (i, Seq("a", "b", "c"))).toDF("doc_id", "ts")
    val over = Dedup.benchmarkOverlap(big, "doc_id", "ts", big, "doc_id", "ts",
      maxBenchRows = 10)
    val ex = messageChain(intercept[Exception](over.collect()))
    assert(ex.contains("cannot broadcast"), ex)
  }

  test("piiIncidence: per-pattern flags, and a post-redaction run reads zero") {
    val rows = Seq(
      ("a", "reach me at bob@example.com today"),
      ("a", "call +1 555-0123 44 now"),
      ("a", "server at 10.0.0.7 responded"),
      ("b", "nothing sensitive here")).toDF("src", "text")
    val out = TextOps.piiIncidence(rows, "src", "text")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out("a") == ((3L, 1L, 1L, 1L)), s"got ${out("a")}")
    assert(out("b") == ((1L, 0L, 0L, 0L)))
    // the audit loop closes: redact with matching rules, then re-audit
    val scrubbed = rows.select(col("src"), TextOps.redact(col("text"),
      TextOps.DefaultPiiPatterns.map(_._2 -> "<x>")).as("text"))
    val after = TextOps.piiIncidence(scrubbed, "src", "text")
      .agg(sum(col("n_email") + col("n_phone") + col("n_ipv4"))).collect()(0).getLong(0)
    assert(after == 0L, s"redaction left $after detections")
  }

  test("splitLongDocs: hand-checked geometry, short docs pass through, guards") {
    val toks = (1 to 100).map(i => s"w$i")
    val rows = Seq((1L, toks), (2L, toks.take(40)), (3L, toks.take(5)),
      (4L, Seq.empty[String])).toDF("doc_id", "ts")
    val out = TextOps.splitLongDocs(rows, "doc_id", "ts", maxTokens = 40, overlap = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getSeq[String](2), r.getLong(3)))).toMap
    // n=100, stride 30: chunks [0,40) [30,70) [60,100) — count 3
    assert(out.keySet == Set((1L, 0L), (1L, 1L), (1L, 2L), (2L, 0L), (3L, 0L)))
    assert(out((1L, 0L))._1 == toks.slice(0, 40) && out((1L, 1L))._1 == toks.slice(30, 70))
    assert(out((1L, 2L))._1 == toks.slice(60, 100) && out((1L, 2L))._2 == 40L)
    assert(out((2L, 0L))._2 == 40L && out((3L, 0L))._2 == 5L)
    // overlapping windows tile: consecutive chunks share exactly `overlap`
    assert(out((1L, 0L))._1.takeRight(10) == out((1L, 1L))._1.take(10))
    val ex = intercept[IllegalArgumentException] {
      TextOps.splitLongDocs(rows, "doc_id", "ts", maxTokens = 10, overlap = 10)
    }
    assert(ex.getMessage.contains("overlap"))
  }

  test("langSegments: per-line argmax, dominant-language tie-breaks, empty docs vanish") {
    val rows = Seq(
      (1L, "the of and\nel la que\nel la y"),   // 1 en + 2 es -> main es
      (2L, "the of and\nel la que"),            // 1-1 tie -> 'en' (lex)
      (3L, "\n\n"),                             // no non-empty line -> no row
      (4L, "the of and to a")).toDF("doc_id", "text")
    val out = TextOps.langSegments(rows, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getString(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out(1L) == ((3L, "es", 2L, 1.0 / 3.0)), s"got ${out(1L)}")
    assert(out(2L) == ((2L, "en", 1L, 0.5)))
    assert(out(4L) == ((1L, "en", 1L, 0.0)))
    assert(!out.contains(3L))
  }

  test("c4LineFilter: one assert per published rule") {
    val rows = Seq(
      (1L, "the quick brown fox runs far.\nclick here\nshort.\nuses javascript today.\nanother good long line!"),
      (2L, "this page has lorem ipsum somewhere.\na perfectly good line."),
      (3L, "no line here survives")).toDF("doc_id", "text")
    val out = TextOps.c4LineFilter(rows, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // doc 1: CTA (no punct), "short." (< 3 words), javascript line all drop
    assert(out(1L) == "the quick brown fox runs far.\nanother good long line!")
    // doc 2: page rule removes the WHOLE page despite its good line
    // doc 3: no terminal punctuation -> no surviving lines -> no row
    assert(out.keySet == Set(1L))
  }

  test("corpusDatasheet: hand-computed card — counts, median, dup_frac, email flags") {
    val rows = Seq(
      ("a", "x y z"), ("a", "x y z"), ("a", "p q"),
      ("b", "reach bob@example.com now")).toDF("src", "text")
    val out = TextOps.corpusDatasheet(rows, "src", "text").collect()
      .map(r => r.getAs[String]("src") -> r).toMap
    val a = out("a")
    assert(a.getAs[Long]("n_docs") == 3 && a.getAs[Long]("n_tokens") == 8)
    assert(a.getAs[Long]("n_distinct_texts") == 2)
    assert(a.getAs[Double]("dup_frac") == 1.0 / 3.0)
    assert(a.getAs[Long]("median_tokens") == 3)        // lengths {2,3,3}
    assert(a.getAs[Long]("mean_tokens_x10") == 26)     // 80 div 3
    assert(a.getAs[Long]("n_email_docs") == 0)
    val b = out("b")
    assert(b.getAs[Long]("n_email_docs") == 1 && b.getAs[Double]("dup_frac") == 0.0)
  }

  test("lengthPercentileGate: hand-computed cuts, ties share a side, degenerate bands") {
    // Lengths 1..10, one doc each: total 10; p20 cut = smallest L with
    // 100·cum >= 10·20·10? — cum(L)=L here, so lo = smallest L with
    // 100·L >= 200 → 2; hi: 100·L >= 800 → 8. Band = [2, 8].
    val docs = (1L to 10L).map(i => (i, i)).toDF("doc_id", "n")
    val kept = TextOps.lengthPercentileGate(docs, "n", pLo = 20, pHi = 80)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == (2L to 8L).toSet, s"got $kept")
    // Ties: every doc the same length → both cuts land on it, all keep.
    val same = (1L to 5L).map(i => (i, 7L)).toDF("doc_id", "n")
    assert(TextOps.lengthPercentileGate(same, "n", 10, 90).count() == 5)
    // pLo = 0 keeps the left tail entirely.
    assert(TextOps.lengthPercentileGate(docs, "n", 0, 100).count() == 10)
    val ex = intercept[IllegalArgumentException] {
      TextOps.lengthPercentileGate(docs, "n", 50, 50)
    }
    assert(ex.getMessage.contains("pLo < pHi"))
  }

  test("bm25TopK: rare term outranks common term, dl normalization, absent term") {
    // 4 docs. "rare" appears only in doc 0 (df=1); "common" in all
    // (df=4 → idf_bits = ilog2(4) - ilog2(4) = 0, so common-only docs
    // score 0 — still ranked, by doc_id, behind any positive score).
    // Docs 2 and 3 differ only in length: both contain "mid" once
    // (df=2), doc 3 is longer → smaller score (length normalization).
    val docs = Seq(
      (0L, Seq("rare", "common")),
      (1L, Seq("common", "x")),
      (2L, Seq("mid", "common")),
      (3L, Seq("mid", "common", "pad", "pad", "pad", "pad"))
    ).toDF("doc_id", "ts")
    val out = TextOps.bm25TopK(docs, "doc_id", "ts",
        Seq(1L -> Seq("rare", "common"), 2L -> Seq("mid"), 3L -> Seq("absent")),
        k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val q1 = out.filter(_._1 == 1L).sortBy(_._2)
    // doc 0 holds the only positive idf term → rank 1; 1..3 tie at 0.
    assert(q1.map(_._3).toSeq == Seq(0L, 1L, 2L, 3L), s"q1: ${q1.toSeq}")
    assert(q1.head._4 > 0 && q1.tail.forall(_._4 == 0L))
    val q2 = out.filter(_._1 == 2L).sortBy(_._2)
    assert(q2.map(_._3).toSeq == Seq(2L, 3L), s"q2: ${q2.toSeq}")
    assert(q2(0)._4 > q2(1)._4, "longer doc must score lower on equal tf")
    // A query of absent terms matches nothing: no rows, not zero rows.
    assert(!out.exists(_._1 == 3L))
  }

  test("trainNaiveBayes: hand-computed bit log-odds; packWeights sums collisions") {
    // pos tokens: good good ok (Tpos=3); neg: bad ok (Tneg=2); V=3.
    // w(good) = (bits(3)-bits(1)) + (bits(5)-bits(6)) = 1 + (2-2) = 1
    // w(bad)  = (bits(1)-bits(2)) + 0 = -1;  w(ok) = (bits(2)-bits(2)) = 0.
    val pos = Seq((1L, Seq("good", "good", "ok"))).toDF("doc_id", "ts")
    val neg = Seq((2L, Seq("bad", "ok"))).toDF("doc_id", "ts")
    val w = graft.text.Classify.trainNaiveBayes(pos, neg, "ts")
    val got = w.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("good" -> 1L, "bad" -> -1L, "ok" -> 0L), s"got $got")
    // Packing must land each token at hash64(token) % dim — the exact
    // bucket HashScoreExpr reads — with colliding tokens summed.
    val dim = 8
    val arr = graft.text.Classify.packWeights(w, dim)
    val expected = Array.fill(dim)(0L)
    got.foreach { case (tok, wt) =>
      val b = (graft.functions.Hash64Expr.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(tok)) % dim).toInt
      expected(b) += wt
    }
    assert(arr.toSeq == expected.toSeq, s"got ${arr.toSeq}")
    // The packed scorer reproduces the table scores when no collision
    // crosses a doc's tokens: score("good","bad","ok") = 1 - 1 + 0 = 0
    // only if those tokens occupy distinct buckets — score via the
    // expected array either way, so the assertion is collision-proof.
    val doc = Seq((9L, Seq("good", "bad", "ok"))).toDF("doc_id", "ts")
    val s = graft.text.Classify.score(doc, "ts", arr)
      .select("score_sum").collect().head.getLong(0)
    val want = Seq("good", "bad", "ok").map { tok =>
      expected((graft.functions.Hash64Expr.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(tok)) % dim).toInt)
    }.sum
    assert(s == want, s"packed score $s != $want")
  }

  test("bm25TopKFromIndex: bit-equal to the live path; probe prunes buckets") {
    val spark = SparkSpec.spark
    val docs = Seq(
      (0L, Seq("rare", "common")),
      (1L, Seq("common", "x")),
      (2L, Seq("mid", "common")),
      (3L, Seq("mid", "common", "pad", "pad", "pad", "pad"))
    ).toDF("doc_id", "ts")
    val path = java.nio.file.Files.createTempDirectory("graft_postings")
      .toString + "/t"
    TextOps.writePostings(docs, "doc_id", "ts", "graft_test_postings", path,
      buckets = 8)
    val qs = Seq(1L -> Seq("rare", "common"), 2L -> Seq("mid"))
    val live = TextOps.bm25TopK(docs, "doc_id", "ts", qs, k = 10)
      .collect().map(_.toSeq).toSet
    val indexed = TextOps.bm25TopKFromIndex(spark, "graft_test_postings", qs,
      k = 10)
    assert(indexed.collect().map(_.toSeq).toSet == live, "index != live")
    // The probe must reach the bucketed scan as bucket pruning — the
    // "probe-sized work" claim is a plan property, not prose.
    val plan = indexed.queryExecution.executedPlan.toString
    assert(plan.contains("SelectedBucketsCount"), plan)
  }

  test("booleanAndFromIndex: conjunction, tf payload, absent term empties, pruned probe") {
    val docs = Seq(
      (1L, Seq("a", "b", "c", "a")),
      (2L, Seq("a", "b")),
      (3L, Seq("b", "c"))).toDF("doc_id", "ts")
    val path = java.nio.file.Files.createTempDirectory("graft_bool").toString + "/t"
    TextOps.writePostings(docs, "doc_id", "ts", "graft_test_bool", path,
      buckets = 8)
    val res = TextOps.booleanAndFromIndex(spark, "graft_test_bool",
      Seq(1L -> Seq("a", "b"), 2L -> Seq("a", "c"), 3L -> Seq("a", "zz")))
    val got = res.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == Set((1L, 1L, 4L, 3L), (1L, 2L, 2L, 2L), (2L, 1L, 4L, 3L)),
      s"got $got")
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("SelectedBucketsCount"), plan)
  }

  test("distinctiveTerms: hand-computed log-odds, group-exclusive term wins") {
    // a: [x x y], b: [y z] → V=3, TT=5. w(x|a) = bits(3)-bits(1) +
    // bits(5)-bits(6) = 1; w(y|a) = 0; w(z|b) = 1; w(y|b) = 0.
    val docs = Seq(("a", Seq("x", "x", "y")), ("b", Seq("y", "z")))
      .toDF("src", "ts")
    val got = TextOps.distinctiveTerms(docs, "src", "ts", k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getLong(3))).toSet
    assert(got == Set(("a", 1L, "x", 1L), ("a", 2L, "y", 0L),
      ("b", 1L, "z", 1L), ("b", 2L, "y", 0L)), s"got $got")
  }

  test("kwic: window clamps at doc start, last token has no successor") {
    val docs = Seq((1L, Seq("a", "hash", "join", "b", "c")),
      (2L, Seq("hash", "join")), (3L, Seq("b", "hash"))).toDF("doc_id", "ts")
    val got = TextOps.kwic(docs, "doc_id", "ts", "hash", "join", ctx = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(got == Set((1L, 2L, "a hash join b c"), (2L, 1L, "hash join")),
      s"got $got")
  }

  test("robustOutlierReport: hand-computed median/MAD, even-count lower median") {
    // Group a: 1..9 → median 5 (first cum*2 >= 9 at v=5), devs
    // {0:1, 1:2, 2:2, 3:2, 4:2} → MAD 2 (cum 1,3,5 → 5*2 >= 9 at d=2);
    // at 1 MAD, outliers are d in {3,4} → 4 docs. At 3 MADs (d > 6): 0.
    // Group b: 1,2,3,4 → LOWER median 2, devs {0:1,1:2,2:1} → MAD 1,
    // outliers d=2 → 1 doc.
    val docs = ((1L to 9L).map(("a", _)) ++ Seq(1L, 2L, 3L, 4L).map(("b", _)))
      .toDF("src", "v")
    val got = TextOps.robustOutlierReport(docs, "src", "v", madNum = 1)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got("a") == ((9L, 5L, 2L, 4L)), s"a: ${got("a")}")
    assert(got("b") == ((4L, 2L, 1L, 1L)), s"b: ${got("b")}")
    val strict = TextOps.robustOutlierReport(docs, "src", "v", madNum = 3)
      .collect().map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(strict == Map("a" -> 0L, "b" -> 0L), s"strict: $strict")
  }
}
