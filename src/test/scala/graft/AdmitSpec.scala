package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.sources.Store
import graft.text.{Curation, TextOps}

/** Incremental admission ([[Curation.admit]]): a new batch dedups against
  * the retained signature store of a frozen, already-curated corpus. Each
  * planted family exercises exactly one of the four drop stages. */
class AdmitSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  // Disjoint vocabularies so no two base documents are organic near-dups.
  private def doc(tag: String, n: Int): String =
    (1 to n).map(i => s"$tag$i").mkString(" ")

  private def withTs(df: DataFrame): DataFrame =
    df.withColumn("ts", TextOps.tokens(col("text")))

  private val texts = Map(
    "a" -> doc("alpha", 50), "b" -> doc("bravo", 50),
    "c" -> doc("charlie", 50), "d" -> doc("delta", 50),
    "e" -> doc("echo", 50), "f" -> doc("foxtrot", 50),
    "g" -> doc("golf", 50))

  private lazy val existing = withTs(Seq(
    (1L, texts("a")), (2L, texts("b")), (3L, texts("c")), (4L, texts("d"))
  ).toDF("doc_id", "text"))

  private lazy val store = Dedup.signatureStore(existing, "doc_id", "text", "ts")

  private lazy val fresh = withTs(Seq(
    10L -> texts("a"),            // verbatim copy of store doc → exact-cross
    11L -> ("zzz " + texts("b")), // mutated prefix of store doc → near-cross
    12L -> texts("e"),            // novel; duplicated below
    13L -> texts("e"),            // exact-within: 12 (min id) survives
    14L -> texts("f"),            // novel; near-dupped below
    15L -> ("qq " + texts("f")),  // near-within: higher id drops vs 14
    16L -> texts("g"),            // unique novel → admitted
    17L -> ""                     // empty text: no signature, exact-only path
  ).toDF("doc_id", "text"))

  test("admit drops each planted family at its stage and keeps the novel docs") {
    val admitted = Curation.admit(fresh, store)
      .select("doc_id").as[Long].collect().toSet
    assert(admitted == Set(12L, 14L, 16L, 17L),
      s"expected {12,14,16,17}, got $admitted")
  }

  test("admit returns the full fresh rows, not just ids") {
    val row = Curation.admit(fresh, store)
      .filter(col("doc_id") === 16L).select("text").as[String].collect()
    assert(row.toSeq == Seq(texts("g")))
  }

  // ---- Embedding parity ([[Curation.admitEmbedding]] / [[Ann.embeddingStore]]) ----

  private def vec(parts: (Int, Double)*): Seq[Float] = {
    val a = Array.fill(8)(0f)
    parts.foreach { case (i, x) => a(i) = x.toFloat }
    a.toSeq
  }

  private lazy val embExisting =
    Seq(1L -> vec(0 -> 1.0), 2L -> vec(1 -> 1.0), 3L -> vec(2 -> 1.0))
      .toDF("vec_id", "embedding")

  private lazy val embStore =
    graft.ann.Ann.embeddingStore(embExisting, "vec_id", "embedding")

  private lazy val embFresh = Seq(
    10L -> vec(0 -> 1.0),            // verbatim store copy → exact-cross
    11L -> vec(0 -> 2.5),            // SCALED copy → SAME qvec (quantize is
                                     // scale-invariant) → exact-cross, not near
    12L -> vec(3 -> 1.0),            // novel; duplicated below
    13L -> vec(3 -> 1.0),            // exact-within: 12 (min id) survives
    14L -> vec(4 -> 1.0),            // novel unique → admitted
    15L -> vec(1 -> 1.0, 5 -> 0.05), // cos ≈ 0.9988 vs store 2 → near-cross
    16L -> vec(4 -> 1.0, 6 -> 0.05)  // cos ≈ 0.9988 vs 14 → near-within
  ).toDF("vec_id", "embedding")

  test("admitEmbedding drops each planted family at its stage and keeps the novel vectors") {
    val admitted = Curation.admitEmbedding(embFresh, embStore,
        threshold = 0.99, dim = 8)
      .select("vec_id").as[Long].collect().toSet
    assert(admitted == Set(12L, 14L), s"expected {12,14}, got $admitted")
  }

  test("pre-bucketed embedding store: same admitted set, no store-side exchange in the cosine join") {
    val dir = java.nio.file.Files.createTempDirectory("graft_emb_store").toString
    // the batch side shuffles to the bucket count (see StoreSpec)
    Store.write(embStore, graft.ann.Ann.signBucketStore(dim = 8),
      "admit_emb_bucket_spec", s"$dir/buckets", buckets = 32)
    val sb = spark.table("admit_emb_bucket_spec")

    val fused = Curation.admitEmbedding(embFresh, embStore,
        threshold = 0.99, dim = 8)
      .select("vec_id").as[Long].collect().toSet
    val prebucketed = Curation.admitEmbedding(embFresh, embStore,
        threshold = 0.99, dim = 8, storeBuckets = Some(sb))
      .select("vec_id").as[Long].collect().toSet
    assert(prebucketed == fused,
      s"pre-bucketed path must admit the same set: $prebucketed vs $fused")

    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = Curation.admitEmbedding(embFresh, embStore,
          threshold = 0.99, dim = 8, storeBuckets = Some(sb))
        .queryExecution.executedPlan.toString
      val lines = plan.linesIterator.toVector
      val scanIdx = lines.indexWhere(l =>
        l.contains("FileScan") && l.contains("admit_emb_bucket_spec"))
      assert(scanIdx >= 0 && lines(scanIdx).contains("Bucketed: true"),
        s"bucketed store scan must report its bucket spec:\n$plan")
      val above = lines.slice((scanIdx - 4).max(0), scanIdx)
      assert(!above.exists(_.contains("Exchange")),
        s"the pre-bucketed store side must not re-shuffle:\n${above.mkString("\n")}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("sigAgreement is 1.0 on identical signatures and the match fraction otherwise") {
    val df = Seq((Seq(1L, 2L, 3L, 4L), Seq(1L, 2L, 3L, 4L)),
                 (Seq(1L, 2L, 3L, 4L), Seq(1L, 9L, 3L, 8L)))
      .toDF("a", "b")
    val got = df.select(Dedup.sigAgreement(col("a"), col("b"))).as[Double].collect().toSeq
    assert(got == Seq(1.0, 0.5))
  }

  test("signatureStore's fused single pass is bit-equal to the canonical shingle→minhash chain") {
    // The store inlines shingleHashes' fold/window/family math (with the
    // xkey carry and outer explode fused in); any drift between the two
    // would silently split the exact/near semantics between fresh batches
    // and retained stores — pin the bit-equality on real corpus data.
    val docs = graft.sources.Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text"), TextOps.tokens(col("text")).as("ts"))
    val fused = Dedup.signatureStore(docs, "doc_id", "text", "ts")
      .select(col("doc_id"), col("sig").as("fsig"))
    val canonical = Dedup.minhashFromBases(
        Dedup.shingleHashes(docs, "doc_id", "ts", 3), "doc_id", "sh", 8)
      .select(col("doc_id"), col("sig").as("csig"))
    assert(fused.count() == docs.count())
    val mismatched = fused.join(canonical, Seq("doc_id"), "full_outer")
      .filter(!(col("fsig") <=> col("csig")))
    assert(mismatched.isEmpty,
      "fused store signatures must bit-match the canonical chain")
  }

  test("signatureStore: empty token arrays keep a null signature, exact key still present") {
    val st = Dedup.signatureStore(
      withTs(Seq((1L, "x y z"), (2L, "")).toDF("doc_id", "text")),
      "doc_id", "text", "ts")
    val rows = st.orderBy("doc_id").collect()
    assert(rows.length == 2)
    assert(!rows(0).isNullAt(rows(0).fieldIndex("sig")))
    assert(rows(1).isNullAt(rows(1).fieldIndex("sig")))
    assert(!rows(1).isNullAt(rows(1).fieldIndex("xkey")))
  }

  test("pre-banded bucketed store: same admitted set, no store-side exchange in the near join") {
    val dir = java.nio.file.Files.createTempDirectory("graft_banded_store").toString
    // the batch side shuffles to the bucket count (see StoreSpec)
    Store.write(store, Dedup.bandStore(bands = 4, rowsPerBand = 2),
      "admit_banded_spec", s"$dir/bands", buckets = 32)
    val sb = spark.table("admit_banded_spec")

    val fused = Curation.admit(fresh, store)
      .select("doc_id").as[Long].collect().toSet
    val prebanded = Curation.admit(fresh, store, storeBands = Some(sb))
      .select("doc_id").as[Long].collect().toSet
    assert(prebanded == fused,
      s"pre-banded path must admit the same set: $prebanded vs $fused")

    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = Curation.admit(fresh, store, storeBands = Some(sb))
        .queryExecution.executedPlan.toString
      // the banded store scan must reach its join bucketed, in place:
      // nothing between the scan and its join may be an Exchange
      val lines = plan.linesIterator.toVector
      val scanIdx = lines.indexWhere(l =>
        l.contains("FileScan") && l.contains("admit_banded_spec"))
      assert(scanIdx >= 0 && lines(scanIdx).contains("Bucketed: true"),
        s"banded store scan must report its bucket spec:\n$plan")
      val above = lines.slice((scanIdx - 4).max(0), scanIdx)
      assert(!above.exists(_.contains("Exchange")),
        s"the pre-banded store side must not re-shuffle:\n${above.mkString("\n")}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  // ---- SimHash parity ([[Curation.admitSimhash]] / [[Dedup.simhashStore]]) ----

  private def revText(t: String): String = t.split("\\s+").reverse.mkString(" ")

  private lazy val simStore = Dedup.simhashStore(existing, "doc_id", "text", "ts")

  private lazy val simFresh = withTs(Seq(
    10L -> texts("a"),           // verbatim copy of store doc → exact-cross
    11L -> revText(texts("b")),  // reversed store doc: Hamming 0, new xkey → near-cross
    12L -> texts("e"),           // novel; duplicated below
    13L -> texts("e"),           // exact-within: 12 (min id) survives
    14L -> texts("f"),           // novel; near-dupped below
    15L -> revText(texts("f")),  // reversed 14: near-within, higher id drops
    16L -> texts("g"),           // unique novel → admitted
    17L -> ""                    // empty text: null simhash, exact-only path
  ).toDF("doc_id", "text"))

  test("admitSimhash drops each planted family at its stage and keeps the novel docs") {
    // Token reversal is the simhash-specific plant: the signature is an
    // order-invariant per-token ±1 sum, so a reversed doc lands at
    // Hamming 0 with a DIFFERENT exact key — a guaranteed near-dup that
    // only the banded Hamming stage can catch.
    val admitted = Curation.admitSimhash(simFresh, simStore)
      .select("doc_id").as[Long].collect().toSet
    assert(admitted == Set(12L, 14L, 16L, 17L),
      s"expected {12,14,16,17}, got $admitted")
  }

  test("admitSimhash enforces the pigeonhole recall bound on maxHamming") {
    val e = intercept[IllegalArgumentException] {
      Curation.admitSimhash(simFresh, simStore, bands = 4, maxHamming = 4)
    }
    assert(e.getMessage.contains("recall"))
  }

  test("simhashStore's fused pass is bit-equal to the canonical simhash chain") {
    // Same pin as the MinHash store: the fused xkey-carrying outer-explode
    // form must not drift from Dedup.simhash's math. Canonical drops
    // empty-token docs entirely (inner explode), fused keeps them with a
    // null signature — full_outer + <=> covers both.
    val docs = graft.sources.Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text"), TextOps.tokens(col("text")).as("ts"))
    val fused = Dedup.simhashStore(docs, "doc_id", "text", "ts")
      .select(col("doc_id"), col("simhash").as("fsim"))
    val canonical = Dedup.simhash(docs, "doc_id", "ts", bits = 60)
      .select(col("doc_id"), col("simhash").as("csim"))
    val mismatched = fused.join(canonical, Seq("doc_id"), "full_outer")
      .filter(!(col("fsim") <=> col("csim")))
    assert(mismatched.isEmpty,
      "fused simhash store must bit-match Dedup.simhash")
  }

  test("pre-banded simhash store: same admitted set, no store-side exchange in the Hamming join") {
    val dir = java.nio.file.Files.createTempDirectory("graft_banded_simstore").toString
    Store.write(simStore, Dedup.simhashBandStore(bands = 4, bitsPerBand = 15),
      "simadmit_banded_spec", s"$dir/bands", buckets = 32)
    val sb = spark.table("simadmit_banded_spec")
    try {
      val fused = Curation.admitSimhash(simFresh, simStore)
        .select("doc_id").as[Long].collect().toSet
      val prebanded = Curation.admitSimhash(simFresh, simStore, storeBands = Some(sb))
        .select("doc_id").as[Long].collect().toSet
      assert(prebanded == fused,
        s"pre-banded path must admit the same set: $prebanded vs $fused")

      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val plan = Curation.admitSimhash(simFresh, simStore, storeBands = Some(sb))
          .queryExecution.executedPlan.toString
        val lines = plan.linesIterator.toVector
        val scanIdx = lines.indexWhere(l =>
          l.contains("FileScan") && l.contains("simadmit_banded_spec"))
        assert(scanIdx >= 0 && lines(scanIdx).contains("Bucketed: true"),
          s"banded simhash store scan must report its bucket spec:\n$plan")
        val above = lines.slice((scanIdx - 4).max(0), scanIdx)
        assert(!above.exists(_.contains("Exchange")),
          s"the pre-banded simhash store side must not re-shuffle:\n${above.mkString("\n")}")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally spark.sql("DROP TABLE IF EXISTS simadmit_banded_spec")
  }

  test("simhashStore: empty token arrays keep a null simhash, exact key still present") {
    val st = Dedup.simhashStore(
      withTs(Seq((1L, "x y z"), (2L, "")).toDF("doc_id", "text")),
      "doc_id", "text", "ts")
    val rows = st.orderBy("doc_id").collect()
    assert(rows.length == 2)
    assert(!rows(0).isNullAt(rows(0).fieldIndex("simhash")))
    assert(rows(1).isNullAt(rows(1).fieldIndex("simhash")))
    assert(!rows(1).isNullAt(rows(1).fieldIndex("xkey")))
  }
}
