package graft

import org.apache.spark.sql.functions._

import graft.ann.Ann
import graft.dedup.Dedup
import graft.sequences.Sequences
import graft.text.TextOps
import graft.sources.Tables

/** Text/sequence/dedup/ann semantics. The Window cases mirror the
  * reference's tests/test_sequences.py expectations exactly. */
class TextDedupSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  // Sentences of lengths 3, 5, 7 as in tests/test_sequences.py:58-60.
  private def sentences = Seq(
    (0L, Seq(0, 1, 2)),
    (1L, Seq(10, 11, 12, 13, 14)),
    (2L, Seq(20, 21, 22, 23, 24, 25, 26))
  ).toDF("id", "seq")

  test("Window(0,4,4,overlapping=true): 6 windows, source == target") {
    val out = Sequences.windows(sentences, "id", "seq", 0, 4, 4, overlapping = true)
      .collect()
    assert(out.length == 6)
    out.foreach(r => assert(r.getSeq[Int](2) == r.getSeq[Int](3)))
  }

  test("Window(-2,4,4,overlapping=false): 2 windows, source tail == target head") {
    val out = Sequences.windows(sentences, "id", "seq", -2, 4, 4, overlapping = false)
      .collect()
    assert(out.length == 2)
    out.foreach { r =>
      val (s, t) = (r.getSeq[Int](2), r.getSeq[Int](3))
      assert(s.takeRight(2) == t.take(2))
    }
  }

  test("Window(-2,4,4,overlapping=true): 2 windows, source head == target tail") {
    val out = Sequences.windows(sentences, "id", "seq", -2, 4, 4, overlapping = true)
      .collect()
    assert(out.length == 2)
    out.foreach { r =>
      val (s, t) = (r.getSeq[Int](2), r.getSeq[Int](3))
      assert(s.take(2) == t.takeRight(2))
    }
  }

  test("NGrams(4): 4 grams over lengths 3,5,7; target is the next token") {
    val out = Sequences.ngrams(sentences, "id", "seq", 4).orderBy("id", "window_idx").collect()
    assert(out.length == 4) // 0 + 1 + 3, as in test_ngram_stream
    val first = out(0)
    assert(first.getSeq[Int](2) == Seq(10, 11, 12, 13) && first.getInt(3) == 14)
  }

  test("tokenize: BOS/EOS positions, dictionary ids, UNK fallback") {
    val docs = Seq((1L, "this is a sentence")).toDF("doc_id", "text")
    val dict = Seq(("this", 3), ("a", 4)).toDF("word", "token_id")
    val out = TextOps.tokenize(docs, "doc_id", "text", dict)
      .orderBy("pos").collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    // <S> this is a sentence </S> -> 0, 3, UNK, 4, UNK, 1
    assert(out == Seq((0L, 0L), (1L, 3L), (2L, 2L), (3L, 4L), (4L, 2L), (5L, 1L)))
  }

  test("tokenize resolves boundary ids through the dictionary (fuel dictionary[bos_token])") {
    // A dict that assigns its own ids to <S>/</S> wins over the fallback
    // bos/eos ids — fuel looks boundary tokens up in the dictionary
    // (text.py:30-44); the passed ids apply only when the dict lacks them.
    val docs = Seq((1L, "this is")).toDF("doc_id", "text")
    val dict = Seq(("<S>", 7), ("</S>", 8), ("this", 3)).toDF("word", "token_id")
    val out = TextOps.tokenize(docs, "doc_id", "text", dict)
      .orderBy("pos").collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq((0L, 7L), (1L, 3L), (2L, 2L), (3L, 8L)))
  }

  test("buildDictionary ranks by count desc then word asc") {
    val docs = Seq((1L, "b b b a a c"), (2L, "a c")).toDF("doc_id", "text")
    val d = TextOps.buildDictionary(docs, "text", 2).collect()
      .map(r => (r.getString(0), r.getAs[Number](1).longValue())).toMap
    assert(d == Map("a" -> 3L, "b" -> 4L)) // a:3 ties b:3 -> a first
  }

  test("simhash: near-identical token lists have small hamming distance") {
    val df = Seq(
      (1L, Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta")),
      (2L, Seq("alpha", "beta", "gamma", "delta", "epsilon", "eta")),
      (3L, Seq("one", "two", "three", "four", "five", "six"))
    ).toDF("id", "ts")
    val sh = Dedup.simhash(df, "id", "ts", 32, out = "h").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the column (interpreted) and DataFrame (codegen) paths agree
    val shCol = df.select(col("id"), Dedup.simhashColumn(col("ts"), 32).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh == shCol)
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(1L), sh(2L)) < ham(sh(1L), sh(3L)))
    assert(ham(sh(1L), sh(1L)) == 0)
  }

  test("normalize + compressionRatio: cleaning is idempotent, junk compresses away") {
    val df = Seq(
      (1L, "  Hello,   WORLD!!  (test) "),
      (2L, "spam spam spam spam spam spam spam spam spam spam spam spam"),
      (3L, "k9x qv7 zp2 wm4 jt8 fh3 bn6 rd1 lc5 sg0 yw9 xe2 uq7 oa4 iz8")).toDF("doc_id", "text")
    val norm = df.select(col("doc_id"), TextOps.normalize(col("text")).as("n")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(norm(1L) == "hello world test")
    // idempotent: normalizing a normalized string is the identity
    val again = df.select(TextOps.normalize(TextOps.normalize(col("text"))).as("n2"),
      TextOps.normalize(col("text")).as("n1"))
      .filter(col("n1") =!= col("n2")).count()
    assert(again == 0)
    // the repetitive doc compresses much better than the high-entropy one
    val ratios = df.select(col("doc_id"), TextOps.compressionRatio(col("text")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ratios(2L) < ratios(3L) - 0.2,
      s"repetitive text should compress far better: $ratios")
    assert(ratios.values.forall(r => r > 0.0 && r < 1.5))
  }

  test("exact dedup groups identical keys and keeps the min id") {
    val df = Seq((10L, "xx"), (7L, "xx"), (3L, "yy")).toDF("doc_id", "text")
    val out = Dedup.exact(df, col("doc_id"), col("text"))
      .orderBy("keep_id").collect()
    assert(out.map(r => (r.getLong(1), r.getLong(2))).toSeq == Seq((3L, 1L), (7L, 2L)))
  }

  test("LSH candidates have full recall on heavily-overlapping shingle sets") {
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), TextOps.tokens(col("text")).as("ts"))
      .select(col("doc_id"), Dedup.shingles(col("ts"), 3).as("sh"))
    val sig = docs.select(col("doc_id"), Dedup.minhashSignature(col("sh"), 8).as("sig"))
    val cand = Dedup.lshCandidates(sig, "doc_id", "sig", 4, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // ground truth: all pairs with jaccard >= 0.7 (tiny corpus -> crossJoin OK in test)
    val truth = docs.as("a").join(docs.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        Dedup.jaccard(col("a.sh"), col("b.sh")).as("j"))
      .filter(col("j") >= 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty, "test corpus should contain near-dups")
    assert(truth.subsetOf(cand), s"missed pairs: ${truth.diff(cand)}")
  }

  test("grouped LSH candidates: identical docs pair within a shard, never across") {
    import SparkSpec.spark.implicits._
    val sig = Array(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L)
    val rows = Seq(
      (1L, "snap_a", sig), (2L, "snap_a", sig), // same shard → must pair
      (3L, "snap_b", sig)                       // identical sig, other shard
    ).toDF("doc_id", "grp", "sig")
    val pairs = Dedup.lshCandidatesGrouped(rows, "doc_id", "sig", "grp",
        bands = 4, rowsPerBand = 2)
      .collect().map(r => (r.getAs[String]("grp"),
        r.getAs[Long]("id1"), r.getAs[Long]("id2"))).toSet
    assert(pairs == Set(("snap_a", 1L, 2L)))
    // the occupancy guard counts per shard: 50 clones in one shard trip
    // it even when every other shard is quiet
    val clones = (1L to 50L).map(i => (i, "hot", sig)) :+ (51L, "cold", sig)
    val e = intercept[Exception] {
      Dedup.lshCandidatesGrouped(clones.toDF("doc_id", "grp", "sig"),
        "doc_id", "sig", "grp", bands = 4, rowsPerBand = 2, maxBucket = 10).count()
    }
    assert(messageChain(e).contains("bucket occupancy"))
  }

  test("jaccardJoin equals the unpruned all-pairs join on the real corpus") {
    // The exactness claim IS the test: prefix filtering + length filter
    // must lose nothing vs brute force (tiny corpus -> crossJoin OK here).
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), TextOps.tokens(col("text")).as("ts"))
    val out = Dedup.jaccardJoin(docs, "doc_id", "ts", k = 3, tNum = 1, tDen = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    val sets = docs.select(col("doc_id"),
        Dedup.minhashFeatures(col("ts"), 3, 1).as("mf"))
      .filter(col("mf").isNotNull)
      .select(col("doc_id"), col("mf")("shingles").as("sh"))
    val truth = sets.as("a").join(sets.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        size(array_intersect(col("a.sh"), col("b.sh"))).cast("bigint").as("inter"),
        size(col("a.sh")).cast("bigint").as("n1"),
        size(col("b.sh")).cast("bigint").as("n2"))
      .filter(col("inter") * 2 >= col("n1") + col("n2") - col("inter"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(truth.nonEmpty, "test corpus should contain qualifying pairs")
    assert(out == truth,
      s"missed: ${truth.diff(out)}; invented: ${out.diff(truth)}")
  }

  test("jaccardJoin prefix-bucket guard trips on a clone family") {
    val clones = spark.range(200).select(col("id"),
      array(lit("a"), lit("b"), lit("c"), lit("d")).as("ts"))
    val e = intercept[Exception] {
      Dedup.jaccardJoin(clones, "id", "ts", maxBucket = 50).count()
    }
    val msg = messageChain(e)
    assert(msg.contains("jaccardJoin: prefix bucket occupancy") &&
      msg.contains("Dedup.exact"), msg)
  }

  test("jaccardJoin rejects a degenerate threshold") {
    val docs = Seq((1L, Seq("a", "b", "c"))).toDF("doc_id", "ts")
    intercept[IllegalArgumentException] {
      Dedup.jaccardJoin(docs, "doc_id", "ts", tNum = 2, tDen = 2)
    }
  }

  test("hot-bucket guard: a planted clone family trips lshCandidates before the join") {
    // 1000 identical signatures — the pathology the exact-dedup-first
    // ordering rule exists to prevent (10^6 candidate pairs per bucket at
    // this size; unboundedly worse at corpus scale). The guard must raise
    // with the fix in the message, not silently go quadratic.
    val clones = spark.range(1000).select(col("id"),
      array((1 to 8).map(j => lit(j.toLong)): _*).as("sig"))
    val e = intercept[Exception] {
      Dedup.lshCandidates(clones, "id", "sig", bands = 4, rowsPerBand = 2,
        maxBucket = 100).count()
    }
    val msg = messageChain(e)
    assert(msg.contains("lshCandidates: bucket occupancy") && msg.contains("Dedup.exact"), msg)
  }

  test("hot-bucket guard: simhashNearDup trips on a clone family too") {
    val clones = spark.range(1000).select(col("id"), lit(0x0F0F0F0FL).as("simhash"))
    val e = intercept[Exception] {
      Dedup.simhashNearDup(clones, "id", "simhash", bands = 4, bitsPerBand = 8,
        maxHamming = 3, maxBucket = 100).count()
    }
    assert(messageChain(e).contains("simhashNearDup: bucket occupancy"), messageChain(e))
  }

  test("contaminated enforces its broadcast contract with a bounded probe") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta"), (2L, "one two three four"),
      (3L, "five six seven eight")).toDF("doc_id", "text")
      .select(col("doc_id"), TextOps.tokens(col("text")).as("ts"))
    // a corpus-sized "benchmark" fails at the first action, pointing at
    // the near-dup machinery — not as an executor OOM mid-broadcast
    val over = Dedup.contaminated(corpus, "doc_id", "ts", corpus, "doc_id", "ts",
      maxBenchRows = 2)
    val e = messageChain(intercept[Exception](over.collect()))
    assert(e.contains("cannot broadcast") && e.contains("lshCandidates"), e)
  }

  test("bloom decontamination: superset of exact at tight m, equal at wide m, bounded probe") {
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), TextOps.tokens(col("text")).as("ts"))
    val bench = docs.filter(col("doc_id") % 41 === 0)
    val exact = Dedup.contaminated(docs, "doc_id", "ts", bench, "doc_id", "ts",
      k = 3, minOverlap = 2).select("doc_id").as[Long].collect().toSet
    // tight m: deterministic false positives allowed, false negatives NEVER
    // (every real benchmark gram sets its own bits) — the safe direction
    val tight = Dedup.contaminatedBloom(docs, "doc_id", "ts",
      Dedup.bloomBits(bench, "ts", k = 3, mBits = 1024, numHashes = 4),
      numHashes = 4, k = 3, minOverlap = 2)
      .select("doc_id").as[Long].collect().toSet
    assert(exact.subsetOf(tight))
    // wide m: the false-positive rate vanishes and the flag sets coincide
    val wide = Dedup.contaminatedBloom(docs, "doc_id", "ts",
      Dedup.bloomBits(bench, "ts", k = 3, mBits = 1 << 20, numHashes = 4),
      numHashes = 4, k = 3, minOverlap = 2)
      .select("doc_id").as[Long].collect().toSet
    assert(wide == exact)
    // the benchmark bound is enforced in the plan, contaminated-style:
    // bloomBits' own collect fails
    val e = messageChain(intercept[Exception] {
      Dedup.bloomBits(docs, "ts", maxBenchRows = 2)
    })
    assert(e.contains("bloomBits: benchmark exceeds"), e)
  }

  test("semantic decontamination: threshold flags copies not strangers, guards enforced") {
    // 8-dim basis-vector corpus: doc 1 IS bench vector 100 (cos 1), doc 2
    // is a near copy (cos ~0.995), doc 3 orthogonal (cos 0), doc 4 zero
    def v(xs: Double*) = xs.toArray
    val corpus = Seq(
      (1L, v(1, 0, 0, 0, 0, 0, 0, 0)),
      (2L, v(1, 0.1, 0, 0, 0, 0, 0, 0)),
      (3L, v(0, 1, 0, 0, 0, 0, 0, 0)),
      (4L, v(0, 0, 0, 0, 0, 0, 0, 0))
    ).toDF("vec_id", "embedding")
    val bench = Seq((100L, v(1, 0, 0, 0, 0, 0, 0, 0))).toDF("vec_id", "embedding")
    val qc = Ann.quantize(corpus, "vec_id", "embedding")
    val qb = Ann.quantize(bench, "vec_id", "embedding")
    val flags = Ann.contaminatedSemantic(qc, "vec_id", "qvec",
        qb, "vec_id", "qvec", tauNum = 9, tauDen = 10)
      .select("vec_id").as[Long].collect().toSet
    // exact copy and near copy flag; the orthogonal and zero vectors never
    // do (zero excluded by the positive-norm guard, not by luck)
    assert(flags == Set(1L, 2L))
    // the integer-exactness contract rejects a too-fine denominator
    val e1 = intercept[IllegalArgumentException] {
      Ann.contaminatedSemantic(qc, "vec_id", "qvec", qb, "vec_id", "qvec",
        tauNum = 99, tauDen = 100)
    }
    assert(e1.getMessage.contains("2^53"), e1.getMessage)
    // the broadcast contract fails the first action, contaminated-style
    val over = Ann.contaminatedSemantic(qc, "vec_id", "qvec", qc, "vec_id", "qvec",
      maxBenchRows = 2)
    val e2 = messageChain(intercept[Exception](over.collect()))
    assert(e2.contains("cannot broadcast"), e2)
  }

  test("tfidfTopTerms: rare terms outrank ubiquitous ones, integer scores exact") {
    // N=4 docs → ilog2(4)=2 idf bits max; "the" appears in all 4 docs
    // (idf bits 0 → score 0), "rare" only in doc 1 (idf bits 2)
    val docs = Seq(
      (1L, "the rare rare word"), (2L, "the word again"),
      (3L, "the word maybe"), (4L, "the other word")
    ).toDF("doc_id", "text")
      .select(col("doc_id"), TextOps.tokens(col("text")).as("ts"))
    val out = TextOps.tfidfTopTerms(docs, "doc_id", "ts", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getString(2), r.getLong(4))).toMap
    // doc 1: "rare" tf=2, df=1 → 2*(2-0)=4 bits; "word" tf=1, df=4 →
    // 1*(2-2)=0, ties with "the" at 0 → lexicographic "the" second
    assert(out((1L, 1L)) == ("rare", 4L))
    assert(out((1L, 2L)) == ("the", 0L))
    // doc 4: "other" df=1 → 2 bits beats the zero-scored ubiquitous terms
    assert(out((4L, 1L)) == ("other", 2L))
  }

  test("knnPropagate: majority of nearest seeds wins; ties break to the smaller label") {
    // seeds: three label-7 vectors near +x, two label-3 vectors near +y
    val seeds = Seq(
      (100L, Array(10d, 0d, 0d, 0d), 7), (101L, Array(10d, 1d, 0d, 0d), 7),
      (102L, Array(10d, -1d, 0d, 0d), 7),
      (103L, Array(0d, 10d, 0d, 0d), 3), (104L, Array(1d, 10d, 0d, 0d), 3)
    ).toDF("vec_id", "embedding", "label")
    val corpus = Seq(
      (1L, Array(9d, 0.5d, 0d, 0d)),  // deep in the +x group → 7
      (2L, Array(0.5d, 9d, 0d, 0d))   // deep in the +y group → 3
    ).toDF("vec_id", "embedding")
    val out = Ann.knnPropagate(corpus, "vec_id", "embedding",
        seeds, "vec_id", "embedding", "label", k = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // k=3 around vector 1: all three 7-seeds; around vector 2: both
    // 3-seeds + one 7-seed → majority 3 with 2 votes
    assert(out(1L) == (7L, 3L))
    assert(out(2L) == (3L, 2L))
    // count tie (k=2: one 7-seed, one 3-seed each with 1 vote) → the
    // smaller label wins deterministically
    val tied = Ann.knnPropagate(corpus.filter(col("vec_id") === 1L),
        "vec_id", "embedding",
        seeds.filter(col("vec_id").isin(100L, 103L)), "vec_id", "embedding",
        "label", k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tied(1L) == 3L)
    // the seed-set bound fails the first action
    val over = Ann.knnPropagate(corpus, "vec_id", "embedding", seeds, "vec_id",
      "embedding", "label", k = 2, maxLabeledRows = 2)
    val e = messageChain(intercept[Exception](over.collect()))
    assert(e.contains("cannot broadcast"), e)
  }

  test("kmeansRefine: one Lloyd step lands on cluster means; empty clusters persist") {
    // two tight direction-groups in 4-d; init centroids are exact group
    // members so the assignment is unambiguous
    val corpus = Seq(
      (1L, Array(100d, 0d, 0d, 0d)), (2L, Array(100d, 20d, 0d, 0d)),
      (3L, Array(0d, 0d, 100d, 0d)), (4L, Array(0d, 0d, 100d, 20d))
    ).toDF("vec_id", "embedding")
    val qz = Ann.quantize(corpus, "vec_id", "embedding")
    val init = Array(
      Array(100d, 0d, 0d, 0d),   // cluster 0: vectors 1, 2
      Array(0d, 0d, 100d, 0d),   // cluster 1: vectors 3, 4
      Array(0d, 100d, 0d, 0d))   // cluster 2: empty
    val out = Ann.kmeansRefine(qz, "vec_id", "qvec", init, iters = 1)
    // quantized members: (127,0,0,0)+(127,25,0,0) → mean (127, 12.5, 0, 0)
    assert(out(0).toSeq == Seq(127d, 12.5d, 0d, 0d))
    assert(out(1).toSeq == Seq(0d, 0d, 127d, 12.5d))
    // the empty cluster keeps its previous centroid — no reseeding
    assert(out(2).toSeq == Seq(0d, 100d, 0d, 0d))
  }

  test("embedding near-dup: LSH buckets find planted near-duplicates, none invented") {
    // synthetic corpus: 40 random vectors + 3 planted near-dups of vector 0
    val rng = new scala.util.Random(5)
    def vec() = Array.fill(64)(rng.nextFloat() * 2 - 1)
    val base = vec()
    def jitter(eps: Float) = base.zipWithIndex.map { case (v, i) =>
      v + eps * (if (i % 2 == 0) 1 else -1) * 0.01f }
    val rows = (0L until 40L).map(i => (i, if (i == 0) base.toSeq else vec().toSeq)) ++
      Seq((100L, jitter(1).toSeq), (101L, jitter(2).toSeq), (102L, jitter(3).toSeq))
    val df = rows.toDF("vec_id", "embedding")
    val pairs = graft.ann.Ann.nearDupPairs(df, "vec_id", "embedding", threshold = 0.99,
        seed = 42, tables = 8, planes = 4, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val dupIds = Set(0L, 100L, 101L, 102L)
    // every returned pair is within the planted cluster (cos >= .99 verified)
    assert(pairs.nonEmpty)
    assert(pairs.forall { case (a, b) => dupIds(a) && dupIds(b) },
      s"false positives: ${pairs.filterNot { case (a, b) => dupIds(a) && dupIds(b) }}")
    // the planted (0, 100) pair survives bucketing + verify
    assert(pairs.contains((0L, 100L)))
  }

  test("lshTopK(broadcastQueries=false): corpus-sized query set plans shuffle joins, same results") {
    // The non-broadcast fallback for unbounded query sets (r4 advice): no
    // forced driver broadcast anywhere in the plan, and bit-identical
    // results to the broadcast variant.
    val emb = Tables.load(spark, sf, "embeddings")
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val shuffled = try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val out = Ann.lshTopK(emb, emb, "vec_id", "embedding", 3,
        seed = 42, tables = 8, planes = 3, dim = 64, broadcastQueries = false)
      val rows = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val p = out.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastExchange"),
        s"broadcastQueries=false must not broadcast the query set:\n$p")
      rows
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    val bcast = Ann.lshTopK(emb, emb, "vec_id", "embedding", 3,
        seed = 42, tables = 8, planes = 3, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(shuffled == bcast, "shuffle and broadcast variants must agree")
  }

  test("redact scrubs emails then long digit runs, leaves short numbers") {
    val out = Seq((1L, "mail a.b-c%d@sub.example.org now ref 12345678 but keep 42 and 12345"))
      .toDF("doc_id", "text")
      .select(TextOps.redact(col("text")).as("t")).collect().head.getString(0)
    assert(out == "mail <email> now ref <num> but keep 42 and 12345")
  }

  test("contaminated flags docs sharing >= minOverlap distinct shingles with the benchmark") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely different words here nothing shared at all today"),
      (3L, "the quick brown fox appears here too")).toDF("doc_id", "text")
      .select(col("doc_id"), TextOps.tokens(col("text")).as("ts"))
    val bench = Seq((100L, "the quick brown fox jumps high")).toDF("doc_id", "text")
      .select(col("doc_id"), TextOps.tokens(col("text")).as("ts"))
    val out = Dedup.contaminated(corpus, "doc_id", "ts", bench, "doc_id", "ts",
        k = 3, minOverlap = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // doc1 shares 3 shingles (the quick brown / quick brown fox /
    // brown fox jumps), doc3 shares 2, doc2 shares none
    assert(out == Map(1L -> 3L, 3L -> 2L), s"got $out")
  }

  test("semanticDedupPairs finds planted clones within clusters, nothing else") {
    // Same planted-clone pattern as q50/q55: clones sit at cos ~ 1-5e-7,
    // organic pairs max ~0.51, so at threshold 0.99 every returned pair
    // must be a planted (i, i+1000000) — and a clone is only findable when
    // it lands in its original's cluster, which the near-identical
    // assignment sims make the overwhelming case.
    val emb = Tables.load(spark, sf, "embeddings").select("vec_id", "embedding")
    val clones = emb.filter(col("vec_id") < 20).select(
      (col("vec_id") + 1000000L).as("vec_id"),
      concat(array((col("embedding")(0) * lit(1.01)).cast("float")),
             slice(col("embedding"), 2, 63)).as("embedding"))
    val pairs = Ann.semanticDedupPairs(emb.unionByName(clones), "vec_id", "embedding",
        threshold = 0.99, seed = 42, nCentroids = 16)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(pairs.nonEmpty, "planted clones must surface as semantic dups")
    assert(pairs.forall { case (a, b) => b == a + 1000000L },
      s"only planted pairs clear 0.99: $pairs")
    assert(pairs.size >= 15, s"most clones co-cluster with their original (got ${pairs.size}/20)")
  }

  test("ann: cosine self-similarity is 1; lshTopK recalls most brute-force neighbors") {
    val emb = Tables.load(spark, sf, "embeddings")
    val self = emb.limit(5)
      .select(Ann.cosine(col("embedding"), col("embedding")).as("c"))
      .collect().map(_.getDouble(0))
    self.foreach(c => assert(math.abs(c - 1.0) < 1e-12))

    val queries = emb.filter(col("vec_id") < 10)
    val exact = Ann.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    // On 64-dim uniform-random vectors sign-LSH needs coarse buckets for
    // recall: 3 planes x 8 tables over the 50-vector sf0.001 corpus.
    val approx = Ann.lshTopK(emb, queries, "vec_id", "embedding", 5,
        seed = 42, tables = 8, planes = 3, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"LSH recall too low: $recall")

    // IVF variant: 8 data-adapted centroids, probing half of them
    val ivf = Ann.ivfTopK(emb, queries, "vec_id", "embedding", 5,
        seed = 42, nCentroids = 8, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivfRecall = exact.intersect(ivf).size.toDouble / exact.size
    assert(ivfRecall >= 0.4, s"IVF recall too low: $ivfRecall")
    // determinism: same seed reproduces the index
    val ivf2 = Ann.ivfTopK(emb, queries, "vec_id", "embedding", 5,
        seed = 42, nCentroids = 8, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(ivf == ivf2)
  }

  test("signProject: integer-exact reduced components, JL recall, degenerate outDim") {
    val emb = Tables.load(spark, sf, "embeddings").select("vec_id", "embedding")
    val qz = Ann.quantize(emb, "vec_id", "embedding")
    val red = Ann.signProject(qz, "vec_id", "qvec", outDim = 16, seed = 77)
    // every reduced component is an exact integer (sum of int8s)
    val rows = red.limit(20).collect()
    rows.foreach { r =>
      val v = r.getSeq[Double](1)
      assert(v.length == 16)
      v.foreach(x => assert(x == math.rint(x) && math.abs(x) <= 64 * 127,
        s"non-integer or out-of-range reduced component $x"))
    }
    // hand-check component 0 of one vector against the sign matrix
    val m = Ann.signMatrix(77, 16, 64)
    val q0 = qz.filter(col("vec_id") === 0).select("qvec")
      .collect()(0).getSeq[Byte](0)
    val r0 = red.filter(col("vec_id") === 0).collect()(0).getSeq[Double](1)
    assert(r0(0) == q0.zip(m(0)).map { case (q, s) => q * s }.sum)
    // JL as a CANDIDATE tier (the jlTopK contract): reduced-space
    // shortlist + exact rerank recalls most true neighbors even on
    // this worst-case (near-orthogonal uniform) data — measured 0.76
    // at outDim 32, oversample 20; ranking directly in reduced space
    // recalls ~0.06, which is WHY the operator reranks.
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Ann.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val approx = Ann.jlTopK(emb, queries, "vec_id", "embedding", 5,
        outDim = 32, oversample = 20, seed = 77)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.6, s"JL candidates+rerank recall too low: $recall")
    val ex = intercept[IllegalArgumentException] {
      Ann.signProject(qz, "vec_id", "qvec", outDim = 65, seed = 77)
    }
    assert(ex.getMessage.contains("outDim"))
    val over = Ann.jlTopK(emb, emb, "vec_id", "embedding", 5, maxQueryRows = 10)
    val bound = messageChain(intercept[Exception](over.collect()))
    assert(bound.contains("jlTopK"), bound)
  }

  test("recallReport: self-recall 1.0, disjoint tier 0.0, partial counts exact") {
    import SparkSpec.spark.implicits._
    val ex = Seq((1L, 1L, 10L), (1L, 2L, 11L), (2L, 1L, 10L), (2L, 2L, 12L))
      .toDF("query_id", "rank", "neighbor_id")
    val half = Seq((1L, 1L, 10L), (2L, 1L, 13L))
      .toDF("query_id", "rank", "neighbor_id")
    val out = Ann.recallReport(ex, Seq("self" -> ex, "half" -> half,
        "none" -> half.filter($"query_id" < 0)))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out("self") == ((4L, 4L, 1.0)))
    assert(out("half") == ((4L, 1L, 0.25)))
    assert(out("none") == ((4L, 0L, 0.0)))
  }

  test("ANN broadcast contract: a corpus-sized query set fails at the first action") {
    // The forced broadcast would otherwise OOM the driver with a stack
    // trace pointing at an executor; the in-plan bound names the fix instead.
    val emb = Tables.load(spark, sf, "embeddings").select("vec_id", "embedding")
    val bfOver = Ann.bruteForceTopK(emb, emb, "vec_id", "embedding", 5, maxQueryRows = 10)
    val bf = messageChain(intercept[Exception](bfOver.collect()))
    assert(bf.contains("bruteForceTopK") &&
      bf.contains("lshTopK(broadcastQueries = false)"), bf)
    val lshOver = Ann.lshTopK(emb, emb, "vec_id", "embedding", 5, maxQueryRows = 10)
    val lsh = messageChain(intercept[Exception](lshOver.collect()))
    assert(lsh.contains("broadcastQueries = false"), lsh)
    // the opt-out path plans shuffle joins and stays guard-free
    assert(Ann.lshTopK(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding", 3,
      tables = 8, planes = 3, broadcastQueries = false, maxQueryRows = 1).count() > 0)
  }

  test("ANN entry points reject k, oversample and nProbe below 1 instead of returning no rows") {
    val emb = Tables.load(spark, sf, "embeddings").select("vec_id", "embedding")
    val q = emb.filter(col("vec_id") < 5)
    val cents = Ann.sampleCentroids(emb, "vec_id", "embedding", 42, 4)
    val lists = Ann.withNearestCentroids(emb, "embedding", cents, 1, "__near")
      .select(element_at(col("__near"), 1).as("cid"), col("vec_id"), col("embedding"))
    val (pqIndex, pqCents, cbs) = Ann.ivfPqEncode(emb, "vec_id", "embedding", nCentroids = 4)
    def pqProbe(k: Int = 3, nProbe: Int = 2, oversample: Int = 20) =
      Ann.pqProbe(pqIndex, pqCents, cbs, q, "vec_id", "embedding", k, nProbe,
        oversample, rerankCorpus = Some(emb))
    val cases: Seq[(String, () => Any)] = Seq(
      "bruteForceTopK" -> (() => Ann.bruteForceTopK(emb, q, "vec_id", "embedding", 0)),
      "jlTopK" -> (() => Ann.jlTopK(emb, q, "vec_id", "embedding", 0)),
      "jlTopK" -> (() => Ann.jlTopK(emb, q, "vec_id", "embedding", 3, oversample = 0)),
      "lshTopK" -> (() => Ann.lshTopK(emb, q, "vec_id", "embedding", 0)),
      "ivfTopK" -> (() => Ann.ivfTopK(emb, q, "vec_id", "embedding", 0)),
      "ivfTopK" -> (() => Ann.ivfTopK(emb, q, "vec_id", "embedding", 3, nProbe = 0)),
      "ivfProbe" -> (() => Ann.ivfProbe(lists, cents, q, "vec_id", "embedding", 0)),
      "ivfProbe" -> (() => Ann.ivfProbe(lists, cents, q, "vec_id", "embedding", 3, 0)),
      "pqProbe" -> (() => pqProbe(k = 0)),
      "pqProbe" -> (() => pqProbe(oversample = 0)),
      "pqProbe" -> (() => pqProbe(nProbe = 0)))
    cases.foreach { case (op, build) =>
      val e = intercept[IllegalArgumentException](build())
      assert(e.getMessage.startsWith(s"requirement failed: $op: ") &&
        e.getMessage.endsWith("got 0"), e.getMessage)
    }
  }

  test("dedupLines scrubs corpus-wide boilerplate, keeps unique lines in original order") {
    import SparkSpec.spark.implicits._
    val docs = Seq(
      (1L, "unique alpha\nshared footer\nunique beta"),
      (2L, "unique gamma\nshared footer"),
      (3L, "shared footer")                  // all-boilerplate doc: vanishes
    ).toDF("doc_id", "text")
    val got = graft.text.TextOps.dedupLines(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(
      1L -> "unique alpha\nunique beta",
      2L -> "unique gamma"))
    // maxOccurrences raises the bar: footer kept when allowed 3 copies
    val lax = graft.text.TextOps.dedupLines(docs, "doc_id", "text", maxOccurrences = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(lax(3L) == "shared footer" && lax(1L) == docs.collect()(0).getString(1))
  }

  test("dedupLines probe trips when the over-threshold line set is not bounded") {
    // Degenerate corpus: EVERY line is over-threshold, so the "bounded
    // boilerplate set" contract is broken and the broadcast would OOM at
    // scale — the first action must fail with the fix named.
    import SparkSpec.spark.implicits._
    val docs = Seq((1L, "a\nb"), (2L, "a\nb"), (3L, "a\nb")).toDF("doc_id", "text")
    val over = graft.text.TextOps.dedupLines(docs, "doc_id", "text", maxBoilerplateLines = 1)
    val e = messageChain(intercept[Exception](over.collect()))
    assert(e.contains("maxBoilerplateLines"), e)
  }

  test("native simhashColumn / repetitionColumns are bit-equal to their keyed-agg forms") {
    import SparkSpec.spark.implicits._
    val docs = Tables.load(SparkSpec.spark, sf, "documents")
      .select(col("doc_id"), TextOps.tokens(col("text")).as("ts"))
    // simhash: projection vs canonical explode+agg (which drops empty docs)
    val canonSim = Dedup.simhash(docs, "doc_id", "ts", 60)
      .select(col("doc_id"), col("simhash").as("c"))
    val nativeSim = docs
      .select(col("doc_id"), Dedup.simhashColumn(col("ts"), 60).as("n"))
      .filter(col("n").isNotNull)
    val badSim = nativeSim.join(canonSim, Seq("doc_id"), "full_outer")
      .filter(!(col("n") <=> col("c")))
    assert(badSim.isEmpty, "native simhash must bit-match the canonical chain")
    // repetition stats: projection vs keyed-agg reference
    val nativeRep = TextOps.repetitionColumns(docs, "doc_id", "ts")
    val refRep = ReferenceForms.repetitionColumnsRef(docs, "doc_id", "ts")
      .withColumnRenamed("n_2grams", "r1").withColumnRenamed("top_2gram_frac", "r2")
      .withColumnRenamed("dup_3gram_frac", "r3")
    val badRep = nativeRep.join(refRep, Seq("doc_id"), "full_outer")
      .filter(!(col("n_2grams") <=> col("r1")) ||
        !(col("top_2gram_frac") <=> col("r2")) ||
        !(col("dup_3gram_frac") <=> col("r3")))
    assert(badRep.isEmpty, "native repetition stats must bit-match the keyed-agg form")
    // short-doc edges: 2 tokens (has a 2-gram, drops on no 3-gram), 3 tokens
    val edge = Seq((1L, Seq("a", "b")), (2L, Seq("a", "b", "a")), (3L, Seq.empty[String]))
      .toDF("doc_id", "ts")
    val e = TextOps.repetitionColumns(edge, "doc_id", "ts")
      .collect().map(r => r.getLong(0)).toSet
    assert(e == Set(2L), s"only the 3-token doc is measurable, got $e")
  }

  test("minhashFeatures is bit-equal to the canonical shingle chain on the real corpus") {
    import SparkSpec.spark.implicits._
    val docs = Tables.load(SparkSpec.spark, sf, "documents")
      .select(col("doc_id"), col("text"), TextOps.tokens(col("text")).as("ts"))
    val shRows = Dedup.shingleHashes(docs, "doc_id", "ts", 3)
    val canonSig = Dedup.minhashFromBases(shRows, "doc_id", "sh", 8)
      .select(col("doc_id"), col("sig").as("csig"))
    val canonSets = shRows.groupBy("doc_id")
      .agg(array_sort(collect_set(col("sh"))).as("cset"))
    val native = docs.select(col("doc_id"), Dedup.minhashFeatures(col("ts")).as("mf"))
      .select(col("doc_id"), col("mf")("sig").as("nsig"), col("mf")("shingles").as("nset"))
    val joined = native.join(canonSig, Seq("doc_id"), "full_outer")
      .join(canonSets, Seq("doc_id"), "full_outer")
    // canonical chain drops empty docs via explode; native emits null —
    // full_outer + <=> holds both sides to agreement
    val bad = joined.filter(!(col("nsig") <=> col("csig")) || !(col("nset") <=> col("cset")))
    assert(bad.isEmpty, "native minhash features must bit-match the canonical chain")
    // edge cases: empty doc (null), single token, exactly k tokens
    val edge = Seq((1L, Seq.empty[String]), (2L, Seq("solo")), (3L, Seq("a", "b", "c")))
      .toDF("doc_id", "ts")
    val rows = edge.select(Dedup.minhashFeatures(col("ts")).as("mf"))
      .orderBy(lit(1)).collect()
    assert(rows(0).isNullAt(0))
    val canonEdge = Dedup.minhashFromBases(
        Dedup.shingleHashes(edge, "doc_id", "ts", 3), "doc_id", "sh", 8)
      .orderBy("doc_id").collect()
    val nativeEdge = edge.filter(size(col("ts")) > 0)
      .select(col("doc_id"), col("ts"), Dedup.minhashFeatures(col("ts")).as("mf"))
      .orderBy("doc_id").collect()
    assert(canonEdge.length == 2 && nativeEdge.length == 2)
    (canonEdge zip nativeEdge).foreach { case (c, n) =>
      assert(c.getSeq[Long](1) == n.getStruct(2).getSeq[Long](0),
        s"edge sig mismatch for doc ${c.getLong(0)}")
    }
  }

  test("dedupSpans cuts every duplicated k-gram occurrence except the corpus-wide first") {
    import SparkSpec.spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h"),       // canonical owner of the shared run: untouched
      (2L, "x y a b c d e z"),       // shares the 5-token run "a b c d e" with doc 1:
                                     // its three covering 3-grams merge to ONE island
                                     // spanning exactly the run (suffix-array answer)
      (3L, "p q r s p q r t"),       // within-doc self repeat: first occurrence kept
      (4L, "mm nn"),                 // short-doc (n < k) duplicate pair: whole-doc gram,
      (5L, "mm nn"),                 //   non-owner fully removed, span clipped at n
      (6L, "")                       // empty doc passes through
    ).toDF("doc_id", "text")
      .select(col("doc_id"), TextOps.tokens(col("text")).as("ts"))
    val got = TextOps.dedupSpans(docs, "doc_id", "ts", k = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == Map(
      1L -> (("a b c d e f g h", 8L, 0L, 0L)),
      2L -> (("x y z", 8L, 5L, 1L)),
      3L -> (("p q r s t", 8L, 3L, 1L)),
      4L -> (("mm nn", 2L, 0L, 0L)),
      5L -> (("", 2L, 2L, 1L)),
      6L -> (("", 0L, 0L, 0L))), s"got $got")
    intercept[IllegalArgumentException] {
      TextOps.dedupSpans(docs, "doc_id", "ts", k = 1)
    }
  }

  test("repetition signals: boilerplate maxes the fractions, diverse text stays low") {
    import SparkSpec.spark.implicits._
    val docs = Seq(
      (1L, Seq.fill(20)("spam").mkString(" ")),               // one 2-gram repeated
      (2L, (1 to 40).map(i => s"w$i").mkString(" ")),          // all n-grams unique
      (3L, "a b c a b c a b c a b c")                          // fully periodic
    ).toDF("doc_id", "text")
      .withColumn("ts", graft.text.TextOps.tokens(col("text")))
    val got = graft.text.TextOps.repetitionColumns(docs, "doc_id", "ts")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    val (n1, top1, dup1) = got(1L)
    assert(n1 == 19 && top1 == 1.0 && dup1 == 1.0, s"spam doc: $n1 $top1 $dup1")
    val (_, top2, dup2) = got(2L)
    assert(top2 < 0.05 && dup2 == 0.0, s"diverse doc: $top2 $dup2")
    val (_, top3, dup3) = got(3L)
    assert(top3 > 0.3 && dup3 == 1.0, s"periodic doc: $top3 $dup3")
    // docs shorter than 3 tokens have no 3-gram to measure and drop
    val short = graft.text.TextOps.repetitionColumns(
      Seq((9L, "xy zz")).toDF("doc_id", "text")
        .withColumn("ts", graft.text.TextOps.tokens(col("text"))),
      "doc_id", "ts")
    assert(short.isEmpty)
  }

  test("int8 quantization: bounded reconstruction error, high top-k agreement with the float path") {
    val emb = Tables.load(spark, sf, "embeddings").select("vec_id", "embedding")
    val qz = Ann.quantize(emb, "vec_id", "embedding")

    // every component within scale/2 of its original; bytes in [-127, 127]
    val err = qz.join(emb, "vec_id")
      .select(col("qscale"),
        aggregate(
          zip_with(col("embedding").cast("array<double>"),
            col("qvec").cast("array<double>"),
            (v, q) => abs(v - q * col("qscale"))),
          lit(0d), (acc, x) => greatest(acc, x)).as("max_err"),
        aggregate(col("qvec").cast("array<double>"), lit(0d),
          (acc, x) => greatest(acc, abs(x))).as("max_q"))
      .collect()
    err.foreach { r =>
      assert(r.getDouble(1) <= r.getDouble(0) / 2 + 1e-12,
        s"reconstruction error ${r.getDouble(1)} exceeds scale/2 ${r.getDouble(0) / 2}")
      assert(r.getDouble(2) <= 127.0)
    }

    // quantized top-5 agrees with the float top-5 on most neighbors
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Ann.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val quant = Ann.quantizedTopK(qz, qz.filter(col("vec_id") < 10), "vec_id", "qvec", 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val agree = exact.intersect(quant).size.toDouble / exact.size
    assert(agree >= 0.7, s"quantized/float top-k agreement too low: $agree")

    // all-zero vectors quantize to scale 0 + zero bytes, not NaN
    import SparkSpec.spark.implicits._
    val z = Ann.quantize(
      Seq((1L, Array.fill(4)(0f))).toDF("vec_id", "embedding"), "vec_id", "embedding")
      .collect().head
    assert(z.getDouble(1) == 0.0)
    assert(z.getSeq[Byte](2).forall(_ == 0))
  }

  test("classifier gate: exact hashed-linear scores, integer mean cut, seeded rescue") {
    import SparkSpec.spark.implicits._
    import graft.text.Classify
    import graft.functions.Hash64Expr
    import org.apache.spark.unsafe.types.UTF8String
    val weights = Classify.seededWeights(16, "spec")
    // hand-computed score: Σ weights[hash64(token) % 16]
    def w(t: String): Long =
      weights((Hash64Expr.hash(UTF8String.fromString(t)) % 16).toInt)
    val docs = Seq(
      (1L, Seq("aa", "bb", "cc")),
      (2L, Seq("dd")),
      (3L, Seq.empty[String])
    ).toDF("doc_id", "ts")
    val scored = Classify.score(docs, "ts", weights)
      .select("doc_id", "score_sum", "n_tokens").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(scored(1L) == ((w("aa") + w("bb") + w("cc"), 3L)))
    assert(scored(2L) == ((w("dd"), 1L)))
    assert(scored(3L) == ((0L, 0L)), "empty doc scores 0 over 0 tokens")

    // threshold-only gate (no rescue): exact cross-multiplied cut; empty doc drops
    val corpus = graft.sources.Tables.load(SparkSpec.spark, sf, "documents")
      .select(col("doc_id"), graft.text.TextOps.tokens(col("text")).as("ts"))
    val bigW = Classify.seededWeights(4096, "w")
    val cut = 50000000L
    val kept = Classify.gate(corpus, "doc_id", "ts", bigW, cut)
      .select("doc_id").as[Long].collect().toSet
    val expect = Classify.score(corpus, "ts", bigW)
      .filter(col("n_tokens") > 0 &&
        col("score_sum") * 1000000L > lit(cut) * col("n_tokens"))
      .select("doc_id").as[Long].collect().toSet
    assert(kept == expect)
    assert(kept.nonEmpty && kept.size < corpus.count(),
      s"cut at 50 micro-units must bisect the corpus, kept ${kept.size}")

    // rescue admits a seed-deterministic subset of the REJECTS only
    val rescued = Classify.gate(corpus, "doc_id", "ts", bigW, cut,
        rescueFraction = 0.1, seed = 9)
      .select("doc_id").as[Long].collect().toSet
    assert(rescued.intersect(kept) == kept, "rescue never drops a threshold-kept doc")
    assert(rescued.size > kept.size, "a 10% rescue must admit some rejects")
    val again = Classify.gate(corpus, "doc_id", "ts", bigW, cut,
        rescueFraction = 0.1, seed = 9)
      .select("doc_id").as[Long].collect().toSet
    assert(again == rescued, "rescue is a pure row property — identical re-run")
  }

  test("sampleByQuality: ramp endpoints clamp, interior matches the cross-multiplied check") {
    import SparkSpec.spark.implicits._
    import graft.text.Classify
    val corpus = graft.sources.Tables.load(SparkSpec.spark, sf, "documents")
      .select(col("doc_id"), graft.text.TextOps.tokens(col("text")).as("ts"))
    val bigW = Classify.seededWeights(4096, "w")
    // lo above every mean: nothing keeps; hi below every mean: all keep
    assert(Classify.sampleByQuality(corpus, "doc_id", "ts", bigW,
      loMicros = 2000000000L, hiMicros = 3000000000L).count() == 0)
    assert(Classify.sampleByQuality(corpus, "doc_id", "ts", bigW,
      loMicros = -3000000000L, hiMicros = -2000000000L).count() == corpus.count())
    // interior ramp: recompute the cross-multiplied keep set independently
    val (lo, hi, seed) = (-150000000L, 150000000L, 11L)
    val kept = Classify.sampleByQuality(corpus, "doc_id", "ts", bigW, lo, hi, seed)
      .select("doc_id").as[Long].collect().toSet
    val expect = Classify.score(corpus, "ts", bigW)
      .withColumn("h", pmod(graft.functions.Stable.seededHash(seed, col("doc_id")),
        lit(1000000L)))
      .filter(col("n_tokens") > 0 &&
        col("h").cast("decimal(38,0)") *
          (lit(hi - lo) * col("n_tokens")).cast("decimal(38,0)") <
        (col("score_sum") * 1000000L).cast("decimal(38,0)") * lit(1000000L) -
          (lit(lo) * col("n_tokens")).cast("decimal(38,0)") * lit(1000000L))
      .select("doc_id").as[Long].collect().toSet
    assert(kept == expect)
    assert(kept.nonEmpty && kept.size < corpus.count().toInt,
      s"the ramp must bisect this corpus, kept ${kept.size}")
    val ex = intercept[IllegalArgumentException] {
      Classify.sampleByQuality(corpus, "doc_id", "ts", bigW, 5L, 5L)
    }
    assert(ex.getMessage.contains("loMicros < hiMicros"))
  }

  test("containmentPairs: an excerpt is contained in its source, not vice versa") {
    import SparkSpec.spark.implicits._
    val full = (1 to 40).map(i => s"t$i")
    val rows = Seq(
      (1L, full),                       // the source
      (2L, full.take(15)),              // its excerpt: contained in 1
      (3L, (1 to 40).map(i => s"z$i"))  // unrelated
    ).toDF("doc_id", "ts")
    val out = TextOps.containmentPairs(rows, "doc_id", "ts",
        k = 3, w = 4, tauNum = 1, tauDen = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(4)).toMap
    // excerpt -> source is full containment (its windows are a prefix of
    // the source's, so every winnow minimum recurs)
    assert(out((2L, 1L)) == 1.0, s"got $out")
    // source -> excerpt is below the 1/2 cut (15 of 40 tokens)
    assert(!out.contains((1L, 2L)))
    // the unrelated doc pairs with nothing
    assert(!out.keySet.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("containmentPairs pruneAbove: boilerplate leaves the universe, score renormalizes") {
    import SparkSpec.spark.implicits._
    // Docs 1-4 are identical boilerplate; docs 5-6 share a distinctive
    // run. Doc 5 ALSO carries the boilerplate, so its denominator is the
    // discriminating check: unpruned it counts boilerplate fingerprints,
    // pruned it counts only the informative ones (the 5<->6 containment
    // must RISE, not just survive).
    val boiler = Seq("x1", "x2", "x3", "x4", "x5", "x6", "x7")
    val run = Seq("p", "q", "r", "s", "t", "u")
    val docs = ((1L to 4L).map(i => (i, boiler)) ++ Seq(
      (5L, boiler ++ run),
      (6L, Seq("b1", "b2", "b3") ++ run))).toDF("doc_id", "ts")
    def at(prune: Int): Map[(Long, Long), Double] =
      TextOps.containmentPairs(docs, "doc_id", "ts",
          k = 3, w = 4, tauNum = 1, tauDen = 100, pruneAbove = prune)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(4)).toMap
    val unpruned = at(0)
    assert(unpruned.contains((1L, 2L)) && unpruned.contains((5L, 6L)),
      s"got $unpruned")
    // cap 3: every boilerplate fingerprint sits in docs 1-5 (doc 5's
    // boiler-region winnow windows select the same minima) -> occupancy
    // 5 > 3, pruned; the shared-run fingerprints sit in docs 5-6 only.
    val pruned = at(3)
    // boilerplate-only pairs are gone
    assert(!pruned.contains((1L, 2L)), s"got $pruned")
    // the informative pair survives in both directions
    assert(pruned.contains((5L, 6L)) && pruned.contains((6L, 5L)), s"got $pruned")
    // and 5 -> 6 containment RISES: the denominator no longer counts
    // doc 5's boilerplate fingerprints
    assert(pruned((5L, 6L)) > unpruned((5L, 6L)),
      s"pruned ${pruned((5L, 6L))} vs unpruned ${unpruned((5L, 6L))}")
    // a cap above every occupancy is the identity
    assert(at(100) == unpruned)
    intercept[IllegalArgumentException] {
      TextOps.containmentPairs(docs, "doc_id", "ts", pruneAbove = -1)
    }
  }

  test("embeddingHealth: hand-computed card over planted zero and short vectors") {
    import SparkSpec.spark.implicits._
    val rows = Seq(
      (1L, Seq(127f, 0f, 0f, 0f)),       // qscale 1.0, qvec [127,0,0,0], qn2 16129
      (2L, Seq(0f, 0f, 0f, 0f)),         // zero vector
      (3L, Seq(2f, -2f))                 // wrong dim; qscale 2/127, qvec [127,-127]
    ).toDF("vec_id", "embedding")
    val h = Ann.embeddingHealth(rows, "vec_id", "embedding", dim = 4).collect()(0)
    assert(h.getAs[Long]("n_vecs") == 3 && h.getAs[Long]("n_zero") == 1)
    assert(h.getAs[Long]("n_wrong_dim") == 1)
    assert(h.getAs[Double]("min_qscale") == 2.0 / 127.0)
    assert(h.getAs[Double]("max_qscale") == 1.0)
    assert(h.getAs[Long]("min_qnorm2") == 0L)
    assert(h.getAs[Long]("max_qnorm2") == 2 * 127L * 127L)
    assert(h.getAs[Long]("mean_qnorm2_x10") == (16129L + 0L + 32258L) * 10 / 3)
  }

  test("ivfBalance: counts cover the corpus, shares telescope to 1") {
    val emb = Tables.load(spark, sf, "embeddings")
    val bal = Ann.ivfBalance(emb, "vec_id", "embedding", seed = 42, nCentroids = 8)
      .collect()
    assert(bal.map(_.getLong(1)).sum == emb.count())
    assert(math.abs(bal.map(_.getDouble(2)).sum - 1.0) < 1e-9)
    assert(bal.length <= 8 && bal.length > 1, "a degenerate one-list index")
  }

  test("vocabDrift: hand-computed counts, shares, and one-sided words") {
    import SparkSpec.spark.implicits._
    val a = Seq((1L, Seq("x", "x", "y"))).toDF("doc_id", "ts")
    val b = Seq((2L, Seq("x", "z"))).toDF("doc_id", "ts")
    val out = TextOps.vocabDrift(a, b, "ts", topK = 10)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(out("x") == ((2L, 1L, 2.0 / 3.0, 0.5)))
    assert(out("y") == ((1L, 0L, 1.0 / 3.0, 0.0)))
    assert(out("z") == ((0L, 1L, 0.0, 0.5)))
    // top-k truncation keeps the combined-count order
    val top1 = TextOps.vocabDrift(a, b, "ts", topK = 1).collect()
    assert(top1.length == 1 && top1(0).getString(0) == "x")
  }

  test("overlapMatrix: ordered pairs, doc-vs-distinct counts, disjoint pairs absent") {
    import SparkSpec.spark.implicits._
    val rows = Seq(
      ("a", "x"), ("a", "x"), ("a", "y"),  // two docs of text x, one y
      ("b", "x"), ("b", "z"),
      ("c", "w")).toDF("src", "text")
    val out = Dedup.overlapMatrix(rows, "src", "text")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    // a->b: both of a's x-docs overlap, one distinct shared text
    assert(out(("a", "b")) == ((2L, 1L)))
    // b->a: only b's single x-doc
    assert(out(("b", "a")) == ((1L, 1L)))
    // c overlaps nothing; no (a,a) self rows
    assert(out.keySet == Set(("a", "b"), ("b", "a")))
  }

  test("cdcChunks: clone family fully shared; insertion shifts only the prefix chunk") {
    import graft.functions.Stable
    val toks = (0 until 40).map(i => s"w$i")
    // First boundary position: the first token whose hash lands in the
    // boundary class — chunks at-and-after it are content-anchored.
    val p = toks.indexWhere { t =>
      Seq(t).toDF("t").select(pmod(Stable.hash64(col("t")), lit(16)))
        .head().getLong(0) == 0L
    }
    assert(p > 0, "fixture must have an interior boundary token")

    // Two clones: every chunk shared, token counts cover the doc.
    val clones = Seq((1L, toks), (2L, toks)).toDF("doc_id", "ts")
    val shared = TextOps.cdcChunks(clones, "doc_id", "ts", modulus = 16).collect()
    assert(shared.forall(r => r.getLong(2) == 2L && r.getLong(3) == 2L &&
      r.getLong(4) == 1L))
    assert(shared.map(_.getLong(1)).sum == 40L)

    // Insert one token at the front: every chunk from the first
    // boundary on is unchanged (content-defined cut), so the shared
    // token mass is exactly the suffix after the differing prefix.
    val edited = Seq((1L, toks), (3L, "inserted" +: toks)).toDF("doc_id", "ts")
    val stillShared = TextOps.cdcChunks(edited, "doc_id", "ts", modulus = 16)
      .collect()
    assert(stillShared.map(_.getLong(1)).sum == (40L - p))
  }

  test("fingerprintPairs: winnowing recall — a shared >= w+k-1 token run always pairs") {
    // Docs 1 and 2 share a 6-token run (= w+k-1 at k=3, w=4): Schleimer's
    // bound says some window of the run has its minimum inside the run
    // in BOTH docs, so the pair must surface at minShared=1. Doc 3 is
    // disjoint vocabulary: no pair with anyone.
    val run = Seq("p", "q", "r", "s", "t", "u")
    val docs = Seq(
      (1L, Seq("a1", "a2", "a3") ++ run ++ Seq("a4", "a5")),
      (2L, Seq("b1", "b2") ++ run ++ Seq("b3", "b4", "b5", "b6")),
      (3L, Seq("c1", "c2", "c3", "c4", "c5", "c6", "c7", "c8"))
    ).toDF("doc_id", "ts")
    val pairs = TextOps.fingerprintPairs(docs, "doc_id", "ts",
        k = 3, w = 4, minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("fingerprintPairs: the occupancy guard trips on a hot fingerprint") {
    // 5 identical docs: every fingerprint has occupancy 5 > maxOccupancy.
    val clones = (0L until 5L).map(i =>
      (i, Seq("x1", "x2", "x3", "x4", "x5", "x6", "x7"))).toDF("doc_id", "ts")
    val ex = intercept[Exception] {
      TextOps.fingerprintPairs(clones, "doc_id", "ts",
        k = 3, w = 4, minShared = 1, maxOccupancy = 3).collect()
    }
    assert(ex.getMessage.contains("occupancy"))
  }

  test("fingerprintPairs pruneAbove: hot boilerplate fingerprints drop, informative pairs keep") {
    // Docs 1-4 are identical boilerplate (every fingerprint occupancy 4);
    // docs 5-6 share a distinctive 6-token run (occupancy-2 fingerprints).
    val boiler = Seq("x1", "x2", "x3", "x4", "x5", "x6", "x7")
    val run = Seq("p", "q", "r", "s", "t", "u")
    val docs = ((1L to 4L).map(i => (i, boiler)) ++ Seq(
      (5L, Seq("a1", "a2") ++ run ++ Seq("a3")),
      (6L, Seq("b1", "b2", "b3") ++ run))).toDF("doc_id", "ts")
    def pairsAt(prune: Int): Set[(Long, Long)] =
      TextOps.fingerprintPairs(docs, "doc_id", "ts",
          k = 3, w = 4, minShared = 1, pruneAbove = prune)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val unpruned = pairsAt(0)
    assert(unpruned.contains((1L, 2L)) && unpruned.contains((5L, 6L)),
      s"got $unpruned")
    // cap 3 drops the occupancy-4 boilerplate family, keeps the pair
    // that shares an informative fingerprint
    val pruned = pairsAt(3)
    assert(pruned == Set((5L, 6L)), s"got $pruned")
    // a cap above every occupancy is the identity
    assert(pairsAt(100) == unpruned)
    intercept[IllegalArgumentException] {
      TextOps.fingerprintPairs(docs, "doc_id", "ts", pruneAbove = -1)
    }
  }

  test("pmiCollocations: hand-computed ppm ratios; doc-final nulls count unigrams") {
    // "a b a b c" + "a b": pairs (a,b)x3 (b,a) (b,c) (c,·) (b,·);
    // unigrams a=3 b=3 c=1, N=7. minCount=1 keeps all real pairs:
    //   (a,b): ⌊1e6·3·7/(3·3)⌋ = 2333333; (b,a): ⌊1e6·7/9⌋ = 777777;
    //   (b,c): ⌊1e6·7/3⌋ = 2333333. minCount=2 keeps only (a,b).
    val docs = Seq("a b a b c", "a b").toDF("text")
      .select(TextOps.tokens(col("text")).as("ts"))
    val all = TextOps.pmiCollocations(docs, "ts", minCount = 1)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    assert(all == Set(("a", "b", 3L, 3L, 3L, 2333333L),
      ("b", "a", 1L, 3L, 3L, 777777L),
      ("b", "c", 1L, 3L, 1L, 2333333L)), s"got $all")
    val top = TextOps.pmiCollocations(docs, "ts", minCount = 2)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(top == Set(("a", "b")), s"got $top")
  }

  test("duplicateRateCard: cross-source copies count both sides, in-source twins") {
    // s1: t1, t1, t2 (in-source twin); s2: t2, t3 (t2 copied cross-source).
    val df = Seq((1L, "s1", "t1"), (2L, "s1", "t1"), (3L, "s1", "t2"),
      (4L, "s2", "t2"), (5L, "s2", "t3")).toDF("doc_id", "source", "text")
    val got = Dedup.duplicateRateCard(df, "source", col("text")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(got == Set(("s1", 3L, 2L, 3L, 1000000L),
      ("s2", 2L, 2L, 1L, 500000L)), s"got $got")
  }

  test("giniCard: hand-computed with ties; equal values zero; near-max concentration") {
    // a: [1,1,2] -> 2S=18, T=4, n=3 -> (18-16)·1e6/12 = 166666.
    // b: [5,5] -> 0. c: [0,0,10] -> (60-40)·1e6/30 = 666666 (max (n-1)/n).
    val df = Seq(("a", 1L), ("a", 1L), ("a", 2L), ("b", 5L), ("b", 5L),
      ("c", 0L), ("c", 0L), ("c", 10L)).toDF("g", "v")
    val got = TextOps.giniCard(df, "g", "v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == Set(("a", 3L, 4L, 166666L), ("b", 2L, 10L, 0L),
      ("c", 3L, 10L, 666666L)), s"got $got")
  }

  test("gramMatrix: hand-computed 2x2 second moments on the micro-grid") {
    // [[1,2],[3,-1]] @ scale 1000: q = [1000,2000],[3000,-1000].
    val df = Seq(Seq(1.0f, 2.0f), Seq(3.0f, -1.0f)).toDF("embedding")
    val got = Ann.gramMatrix(df, "embedding", dim = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6))).toSet
    assert(got == Set(
      (0L, 0L, 2L, 10000000L, 4000L, 4000L, 1000000.0),
      (0L, 1L, 2L, -1000000L, 4000L, 1000L, -1500000.0),
      (1L, 1L, 2L, 5000000L, 1000L, 1000L, 2250000.0)), s"got $got")
  }

  test("gramMatrix: aggregator form == per-pair explode form, empty in -> empty out") {
    // The GramSum buffer must reproduce the declarative groupBy-per-pair
    // sums exactly (same integers, same triangular unpack order) on a
    // seeded dim=3 corpus with negatives and repartitioned input (the
    // buffer merge path must be order-free).
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(97)(Seq.fill(3)((rnd.nextDouble() * 2 - 1).toFloat))
    val df = rows.toDF("embedding").repartition(13)
    val got = Ann.gramMatrix(df, "embedding", dim = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6))).toSet
    val q = rows.map(_.map(x => math.floor(x.toDouble * 1000).toLong))
    val expected = (for (i <- 0 until 3; j <- i until 3) yield {
      val g = q.map(v => v(i) * v(j)).sum
      val si = q.map(_(i)).sum
      val sj = q.map(_(j)).sum
      val n = q.length.toLong
      (i.toLong, j.toLong, n, g, si, sj,
        (n.toDouble * g.toDouble - si.toDouble * sj.toDouble) /
          (n.toDouble * n.toDouble))
    }).toSet
    assert(got == expected, s"got $got")
    val empty = Ann.gramMatrix(
      Seq.empty[Seq[Float]].toDF("embedding"), "embedding", dim = 3)
    assert(empty.count() == 0L, "empty corpus must yield an empty table")
  }

  test("marginMine: hand-computed margins on axis vectors, tau cuts, ties by id") {
    // Axis-aligned vectors make every cosine exactly 1.0 or 0.0.
    // a: x1=(1,0), x2=(0,1); b: y1=(2,0), y2=(0,3), y3=(4,0). k=2:
    //   sx(x1) = top2{y1:1e6, y3:1e6, y2:0} = 2e6 (tie → y1 first)
    //   sx(x2) = 1e6; sy(y1) = sy(y2) = 1e6.
    //   best(x1) = y1 (tie with y3 breaks to smaller id);
    //   best(x2) = y2.
    // margin x1: 1e6·4·tauDen vs (2e6+1e6)·tauNum → accepts at 105,
    // rejects at 135; x2 (3e6 → 2e6 sums) accepts at both.
    val a = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0))).toDF("vec_id", "embedding")
    val b = Seq((11L, Seq(2.0, 0.0)), (12L, Seq(0.0, 3.0)), (13L, Seq(4.0, 0.0)))
      .toDF("vec_id", "embedding")
    val loose = Ann.marginMine(a, b, "vec_id", "embedding", k = 2,
        tauNum = 105, tauDen = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(loose == Set((1L, 11L, 1000000L, 2000000L, 1000000L),
      (2L, 12L, 1000000L, 1000000L, 1000000L)), s"got $loose")
    val strict = Ann.marginMine(a, b, "vec_id", "embedding", k = 2,
        tauNum = 135, tauDen = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(strict == Set((2L, 12L)), s"got $strict")
  }

  test("marginMineLsh: exact copies are always candidates; occupancy guard trips") {
    // SignBuckets is a pure function of the vector, so a vector and its
    // exact copy land in the SAME bucket in EVERY table — the recall
    // floor: copy pairs can never be missed, whatever the tuning.
    val va = Seq(0.5, -0.25, 0.75, -1.0)
    val vb = Seq(-1.0, 0.5, 0.25, 0.125)
    val a = Seq((1L, va), (2L, vb)).toDF("vec_id", "embedding")
    val b = Seq((11L, va), (12L, vb)).toDF("vec_id", "embedding")
    val got = Ann.marginMineLsh(a, b, "vec_id", "embedding", k = 2,
        tauNum = 100, tauDen = 100, seed = 9, tables = 2, planes = 6, dim = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // each src's copy scores cos_micro = 1e6 and must be its forward best
    assert(got.contains((1L, 11L, 1000000L)) && got.contains((2L, 12L, 1000000L)),
      s"copy pairs must survive the banded candidate join: $got")
    // occupancy guard: three identical a-side vectors crowd one bucket
    val crowded = Seq((1L, va), (2L, va), (3L, va)).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Ann.marginMineLsh(crowded, b, "vec_id", "embedding", k = 2,
        seed = 9, tables = 2, planes = 6, dim = 4, maxBucket = 2).count()
    }
    assert(e.getMessage.contains("occupancy"), e.getMessage)
  }

  test("knnPropagateLsh: duplicate seed wins the vote; bucketless rows are absent; guard trips") {
    // corpus c1 duplicates seed s1 (label 7) -> same bucket every table,
    // cosine 1.0, the k=1 vote. c2 = -s1: every plane dot flips sign, so
    // c2 shares NO bucket with s1 and is ABSENT (recall-bounded, no guess).
    val v = Seq(0.5, -0.25, 0.75, -1.0)
    val corpus = Seq((1L, v), (2L, v.map(-_))).toDF("vec_id", "embedding")
    val seeds = Seq((11L, v, 7)).toDF("vec_id", "embedding", "label")
    val got = Ann.knnPropagateLsh(corpus, "vec_id", "embedding",
        seeds, "vec_id", "embedding", "label", k = 1,
        seed = 9, tables = 2, planes = 6, dim = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 7L, 1L)), s"got $got")
    val crowdedSeeds = Seq((11L, v, 7), (12L, v, 7), (13L, v, 7))
      .toDF("vec_id", "embedding", "label")
    val e = intercept[Exception] {
      Ann.knnPropagateLsh(corpus, "vec_id", "embedding",
        crowdedSeeds, "vec_id", "embedding", "label", k = 1,
        seed = 9, tables = 2, planes = 6, dim = 4, maxBucket = 2).count()
    }
    assert(e.getMessage.contains("occupancy"), e.getMessage)
  }

  test("keyOccupancyCard: hand-computed histogram and pair-work shares over any key") {
    import graft.dedup.Dedup
    // occupancies a=3, b=2, c=1 -> pair work 3, 1, 0 of total 4
    val keyed = Seq("a", "a", "a", "b", "b", "c").toDF("k")
    val got = Dedup.keyOccupancyCard(keyed, Seq("k"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 1L, 0L), (2L, 1L, 250000L), (3L, 1L, 750000L)),
      s"got $got")
    // all-singleton corpus: zero pair work, shares stay 0 (no div-0)
    val flat = Dedup.keyOccupancyCard(Seq("x", "y").toDF("k"), Seq("k"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(flat == Set((1L, 2L, 0L)), s"got $flat")
  }

  test("simhashNearDupWide: 120-bit signatures, pigeonhole recall, guard; part-1 independence") {
    import graft.dedup.Dedup
    // exact clones -> identical parts -> hamming 0 through every band
    val docs = Seq(
      (1L, Seq("alpha", "beta", "gamma", "delta")),
      (2L, Seq("alpha", "beta", "gamma", "delta")),
      (3L, Seq("zeta", "eta", "theta", "iota", "kappa"))).toDF("doc_id", "ts")
    val sh = docs.select(col("doc_id"),
      Dedup.simhashColumn(col("ts"), 60, part = 0).as("s0"),
      Dedup.simhashColumn(col("ts"), 60, part = 1).as("s1"))
    val pairs = Dedup.simhashNearDupWide(sh, "doc_id", "s0", "s1",
        bands = 4, bitsPerBand = 25, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs.contains((1L, 2L, 0L)), s"clone pair must survive: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      s"unrelated doc must not pair: $pairs")
    // the second part is a genuinely independent signature (different md5
    // window), not a copy of the first
    val r = sh.filter(col("doc_id") === 1L).head()
    assert(r.getLong(1) != r.getLong(2), "part 1 must differ from part 0")
    // recall contract and band-capacity requires reject loudly
    val e1 = intercept[IllegalArgumentException] {
      Dedup.simhashNearDupWide(sh, "doc_id", "s0", "s1",
        bands = 4, bitsPerBand = 25, maxHamming = 4)
    }
    assert(e1.getMessage.contains("recall"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Dedup.simhashNearDupWide(sh, "doc_id", "s0", "s1",
        bands = 4, bitsPerBand = 31, maxHamming = 3)
    }
    assert(e2.getMessage.contains("60-bit"), e2.getMessage)
    intercept[IllegalArgumentException] {
      Dedup.simhashColumn(col("ts"), 60, part = 2)
    }
    // occupancy guard on the wide bands trips like the narrow tier's
    val crowded = (1L to 5L).map(i => (i, Seq("same", "tokens", "here")))
      .toDF("doc_id", "ts")
      .select(col("doc_id"),
        Dedup.simhashColumn(col("ts"), 60, part = 0).as("s0"),
        Dedup.simhashColumn(col("ts"), 60, part = 1).as("s1"))
    val e3 = intercept[Exception] {
      Dedup.simhashNearDupWide(crowded, "doc_id", "s0", "s1",
        bands = 4, bitsPerBand = 25, maxHamming = 3, maxBucket = 3).count()
    }
    assert(e3.getMessage.contains("occupancy"), e3.getMessage)
  }

  test("simhashBandsForCorpus: the narrow/wide crossover is derived, integer-exact") {
    import graft.dedup.Dedup
    // small corpora stay narrow with planesForOccupancy's width:
    // n=1000, target 16 -> ceil(log2(63)) = 6 bits
    assert(Dedup.simhashBandsForCorpus(1000) == ((false, 6)))
    // the 4-band boundary is EXACTLY n = 16 * 2^15: the last narrow
    // corpus and the first wide one differ by one row
    assert(Dedup.simhashBandsForCorpus(16L * 32768) == ((false, 15)))
    assert(Dedup.simhashBandsForCorpus(16L * 32768 + 1) == ((true, 16)))
    // width is monotone in n and caps at the wide tier's 30 bits (4 bands)
    assert(Dedup.simhashBandsForCorpus(16L * (1L << 31)) == ((true, 30)))
    // a different band count moves the cap: 6 bands -> narrow cap 10,
    // wide carries 3 bands/part (cap 20)
    assert(Dedup.simhashBandsForCorpus(16L * 1024, bands = 6) == ((false, 10)))
    assert(Dedup.simhashBandsForCorpus(16L * 2048, bands = 6) == ((true, 11)))
    intercept[IllegalArgumentException] { Dedup.simhashBandsForCorpus(10, bands = 1) }
  }

  test("simhashNearDupAuto + bitsPerBand=0 sentinels: auto picks equal the explicit tier bit-for-bit") {
    import graft.dedup.Dedup
    val docs = (Seq(
      (1L, Seq("alpha", "beta", "gamma", "delta")),
      (2L, Seq("alpha", "beta", "gamma", "delta")),
      (3L, Seq("zeta", "eta", "theta", "iota", "kappa"))) ++
      (10L to 29L).map(i => (i, Seq(s"w$i", s"x$i", s"y$i", s"z$i"))))
      .toDF("doc_id", "ts")
    // 23 docs, target 16 -> ceil(log2(ceil(23/16))) = 1 bit, narrow tier
    assert(Dedup.simhashBandsForCorpus(23) == ((false, 1)))
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1), r.getLong(2))
    val auto = Dedup.simhashNearDupAuto(docs, "doc_id", "ts",
      bands = 4, maxHamming = 3).collect().map(key).toSet
    val sh = docs.select(col("doc_id"),
      Dedup.simhashColumn(col("ts"), 60, part = 0).as("s0"))
    val explicit = Dedup.simhashNearDup(sh, "doc_id", "s0",
      bands = 4, bitsPerBand = 1, maxHamming = 3).collect().map(key).toSet
    assert(auto == explicit, s"auto $auto vs explicit $explicit")
    assert(auto.contains((1L, 2L, 0L)), s"clone pair must survive: $auto")
    // the narrow entry point's own 0-sentinel derives the same width
    val sentinel = Dedup.simhashNearDup(sh, "doc_id", "s0",
      bands = 4, bitsPerBand = 0, maxHamming = 3).collect().map(key).toSet
    assert(sentinel == explicit)
    // the wide entry point's 0-sentinel: tiny corpus derives width 1,
    // identical to the explicit width-1 wide call
    val shw = docs.select(col("doc_id"),
      Dedup.simhashColumn(col("ts"), 60, part = 0).as("s0"),
      Dedup.simhashColumn(col("ts"), 60, part = 1).as("s1"))
    val wideSentinel = Dedup.simhashNearDupWide(shw, "doc_id", "s0", "s1",
      bands = 4, bitsPerBand = 0, maxHamming = 3).collect().map(key).toSet
    val wideExplicit = Dedup.simhashNearDupWide(shw, "doc_id", "s0", "s1",
      bands = 4, bitsPerBand = 1, maxHamming = 3).collect().map(key).toSet
    assert(wideSentinel == wideExplicit)
    intercept[IllegalArgumentException] {
      Dedup.simhashNearDup(sh, "doc_id", "s0",
        bands = 4, bitsPerBand = -1, maxHamming = 3)
    }
  }

  test("propagateCoverageCard: counts rows with >= 1 candidate seed, cumulative per table") {
    // c1 duplicates the seed -> same bucket in EVERY table (covered from
    // tables_used = 1); c2 = -seed -> every plane dot flips sign, NO
    // shared bucket ever (the row knnPropagateLsh drops). The card must
    // report exactly the propagator's candidate set: 1 of 2 covered at
    // every cumulative table count.
    val v = Seq(0.5, -0.25, 0.75, -1.0)
    val corpus = Seq((1L, v), (2L, v.map(-_))).toDF("vec_id", "embedding")
    val seeds = Seq((11L, v)).toDF("vec_id", "embedding")
    val got = Ann.propagateCoverageCard(corpus, "vec_id", "embedding",
        seeds, "vec_id", "embedding", seed = 9, tables = 3, planes = 6, dim = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(got.toSeq == Seq((1L, 1L, 500000L, 2L), (2L, 1L, 500000L, 2L),
      (3L, 1L, 500000L, 2L)), s"got ${got.toSeq}")
    // the id-inequality filter mirrors the propagator: a corpus row whose
    // ONLY bucket-mate is the same id on the labeled side is NOT covered
    val selfOnly = Ann.propagateCoverageCard(
        Seq((11L, v)).toDF("vec_id", "embedding"), "vec_id", "embedding",
        seeds, "vec_id", "embedding", seed = 9, tables = 2, planes = 6, dim = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(selfOnly == Set((1L, 0L), (2L, 0L)), s"got $selfOnly")
  }

  test("planes = 0 auto-derives from the corpus: identical to passing planesForOccupancy(n)") {
    // 40 distinguishable vectors on the unit circle -> auto planes =
    // planesForOccupancy(40, 16) = 2; the sentinel must produce the
    // bit-identical result to passing that constant explicitly, for all
    // three banded entry points (the behavior VERDICT r11 #2 asked for).
    val vecs = (0 until 40).map { i =>
      val ang = 0.07 * i + 0.01
      (i.toLong, Seq(math.cos(ang), math.sin(ang), 0.25, -0.5))
    }
    val corpus = vecs.toDF("vec_id", "embedding")
    val queries = vecs.take(5).toDF("vec_id", "embedding")
    val p = Ann.planesForOccupancy(40, 16)
    assert(p == 2, s"derivation changed: $p")
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.mkString("|")).toSet
    assert(rows(Ann.lshTopK(corpus, queries, "vec_id", "embedding",
        k = 3, seed = 9, tables = 2, planes = 0, dim = 4)) ==
      rows(Ann.lshTopK(corpus, queries, "vec_id", "embedding",
        k = 3, seed = 9, tables = 2, planes = p, dim = 4)))
    val labeled = vecs.take(8).map { case (id, v) => (id + 100L, v, (id % 3).toInt) }
      .toDF("vec_id", "embedding", "label")
    assert(rows(Ann.knnPropagateLsh(corpus, "vec_id", "embedding",
        labeled, "vec_id", "embedding", "label", k = 2,
        seed = 9, tables = 2, planes = 0, dim = 4)) ==
      rows(Ann.knnPropagateLsh(corpus, "vec_id", "embedding",
        labeled, "vec_id", "embedding", "label", k = 2,
        seed = 9, tables = 2, planes = p, dim = 4)))
    // marginMineLsh derives from the LARGER side (b here, 40 rows)
    val a = vecs.take(6).toDF("vec_id", "embedding")
    assert(rows(Ann.marginMineLsh(a, corpus, "vec_id", "embedding", k = 2,
        tauNum = 100, tauDen = 100, seed = 9, tables = 2, planes = 0, dim = 4)) ==
      rows(Ann.marginMineLsh(a, corpus, "vec_id", "embedding", k = 2,
        tauNum = 100, tauDen = 100, seed = 9, tables = 2, planes = p, dim = 4)))
    // planes outside [0, 30] still rejects loudly
    val e = intercept[IllegalArgumentException] {
      Ann.lshTopK(corpus, queries, "vec_id", "embedding", k = 3, planes = 31)
    }
    assert(e.getMessage.contains("planes"), e.getMessage)
  }

  test("planesForOccupancy: one plane per corpus doubling, clamped [1, 30]") {
    // 2^20 rows at target 16 -> 2^16 buckets -> 16 planes exactly
    assert(Ann.planesForOccupancy(1L << 20, 16) == 16)
    // doubling the corpus adds exactly one plane
    assert(Ann.planesForOccupancy(2L << 20, 16) == 17)
    // non-powers round UP (occupancy at most the target, never above)
    assert(Ann.planesForOccupancy((1L << 20) + 1, 16) == 17)
    // tiny corpora clamp to 1; huge ones to 30
    assert(Ann.planesForOccupancy(8, 16) == 1)
    assert(Ann.planesForOccupancy(Long.MaxValue, 1) == 30)
    // the sf1 probe's regime: 10x rows at the same target costs ~3-4 planes
    val p01 = Ann.planesForOccupancy(2000, 16)
    val p1 = Ann.planesForOccupancy(20000, 16)
    assert(p1 - p01 == 4 && p01 == 7, s"got $p01 -> $p1")
    // INTEGER-EXACT at power-of-two boundaries (the q220 oracle re-derives
    // this in SQL — a float-log ceil could land one plane high at exactly
    // n = target·2^k, and the two engines would band differently)
    assert(Ann.planesForOccupancy(16L * 8, 16) == 3)
    assert(Ann.planesForOccupancy(16L * 8 + 1, 16) == 4)
    assert(Ann.planesForOccupancy(16L * (1L << 24), 16) == 24)
  }
}
